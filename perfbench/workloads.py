"""The benchmark's workloads.

Each workload builds its inputs from the seed (``generate``), runs one job
execution per ``execute`` call, checks that execution's output outside the
timed region (``check``), and in the traced run times each engine layer on
cached inputs (``trace_layers``).

* ``feature_pipeline``: the production job of tools/run_pipeline.py over
  the sf0.1 sequence shape.
* ``prepare_corpus``: ``prepare_training_corpus`` over a Zipf corpus.
* ``asof_hot``: the ``auto`` as-of on one hot entity. Its bucketed plan
  crosses into pandas; it is run on request and left out of the
  BENCHMARK.json set, whose runs it would lengthen by about half.

At these sizes an execution is dominated by per-job overhead: 2.5-5 s for
feature_pipeline and 6-12 s for prepare_corpus once warm, at ``local[4]``
with a 4 GB heap on a 4-vCPU VM whose speed varied about 2x over time.
Larger inputs would make a run, which must also pay for session start and
warm-up, too long to repeat often. ``warmups`` is the number of executions
after which the execution time levels off on that VM: the first pays for
JIT compilation and class loading (about 3x a warm execution), the second
is still 5-20% above the third.
"""

from __future__ import annotations

import shutil
import time
from contextlib import nullcontext
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import inputs

# the sf0.1 shape: 1,500 entities with ~67 events each, 5,000 documents
SF_EVENTS, SF_USERS, SF_DOCS = 100_000, 1_500, 5_000
HOT_EVENTS, HOT_USERS, HOT_SHARE = 10_000, 100, 0.5
CORPUS_DOCS, DUP_EVERY = 1_000, 4
# input generation and cache fill run this many times; setup_s takes the
# median, so one slow round does not decide it
SETUP_REPEATS = 3
N_BUCKETS = 64
TOLERANCE_S = 3600


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _read(path: Path, columns: list[str]) -> pd.DataFrame:
    return ds.dataset(str(path), format="parquet", partitioning="hive").to_table(columns=columns).to_pandas()


def _micros(s: pd.Series) -> np.ndarray:
    return s.astype("datetime64[us]").astype("int64").to_numpy()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext({})


class Workload:
    name = ""
    warmups = 1
    rows = 0
    execution_span = "execution"
    # traced layers whose spans together make up one execution
    execution_layers: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, work: Path):
        self.spark = spark
        self.seed = seed
        self.work = work

    def out_path(self, tag) -> Path:
        return self.work / f"out-{tag}"

    def cleanup(self, tag) -> None:
        for p in (self.out_path(tag), self.work / f"ckpt-{tag}"):
            shutil.rmtree(p, ignore_errors=True)

    def setup_plan(self) -> None:
        pass


class _Sequences(Workload):
    """Seeded events/documents tables, read through ``sources.tables`` and
    cached."""

    n_events, n_users, hot_share = SF_EVENTS, SF_USERS, 0.0
    _cached: tuple = ()

    def generate(self, rep: int, tracer=None) -> None:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from go_html_transform_spark.sources import tables as S

        for df in self._cached:
            df.unpersist(blocking=True)
        shutil.rmtree(self.work / f"sf-{rep - 1}", ignore_errors=True)
        self.sf = self.work / f"sf-{rep}"
        self.hot_rows = inputs.write_sequence_tables(
            self.sf, self.seed, self.n_events, self.n_users, SF_DOCS, self.hot_share
        )
        n_part = self.spark.sparkContext.defaultParallelism * 2
        with _span(tracer, "tables"):
            seq = self.shape_left(S.sequences(self.spark, str(self.sf), repartition=n_part))
            # obs_time is not an output column of the as-of: carry a copy
            lab = S.labels(self.spark, str(self.sf)).withColumn("label_time", F.col("obs_time"))
            seq = seq.persist(StorageLevel.MEMORY_AND_DISK)
            lab = lab.persist(StorageLevel.MEMORY_AND_DISK)
            self.rows = seq.count()
            lab.count()
        self.seq, self.lab = seq, lab
        self._cached = (seq, lab)
        if tracer is not None:
            with tracer.span("tables.scan"):
                _noop(S.sequences(self.spark, str(self.sf), repartition=n_part))

    def shape_left(self, seq):
        return seq


class FeaturePipeline(_Sequences):
    """rules -> backward as-of (union) -> window features -> lineage stage
    with a fresh checkpoint per execution."""

    name = "feature_pipeline"
    warmups = 2
    execution_layers = ("pipeline", "asof", "window", "lineage")

    def rules(self, seq):
        from go_html_transform_spark.operators import transforms as X
        from go_html_transform_spark.plans.pipeline import Transformer

        return (
            Transformer(seq)
            .apply("t982", lambda t, p: X.append_children(t, [1023]))
            .apply(
                "t756 > t982",
                lambda t, p: X.subtransform(t, lambda tok: tok == 756, lambda tok: tok + 1),
            )
            .df.select("doc_id", "event_time", "event_id", "tokens", "n_tok", "source", "value")
        )

    def asof(self, left):
        from go_html_transform_spark.operators.asof import asof_join

        return asof_join(left, self.lab, direction="backward")

    def features(self, joined):
        from go_html_transform_spark.operators.window import add_features

        return add_features(joined)

    def lineage(self, df, tag) -> tuple[Path, Path, int]:
        from go_html_transform_spark.plans.lineage import CheckpointTable

        ckpt, out = self.work / f"ckpt-{tag}", self.out_path(tag)
        n = CheckpointTable(self.spark, str(ckpt)).run_stage(
            df, stage="features_v1", sink_path=str(out), key="doc_id",
            n_buckets=N_BUCKETS, snapshot_id=f"seed-{self.seed}", run_id=f"exec-{tag}",
        )
        return ckpt, out, n

    def setup_plan(self) -> None:
        self.full = self.features(self.asof(self.rules(self.seq)))

    def execute(self, tag):
        return self.lineage(self.full, tag)

    def check(self, tag, result) -> bool:
        """Lineage rows == rows written == input rows, and no label was
        observed after its event."""
        ckpt, out, n = result
        lineage_rows = int(_read(ckpt, ["n_rows"])["n_rows"].sum())
        got = _read(out, ["event_time", "label_time"])
        ahead = (got["label_time"].notna() & (got["label_time"] > got["event_time"])).sum()
        return lineage_rows == n == len(got) == self.rows and ahead == 0

    def trace_layers(self, tracer) -> dict:
        from pyspark import StorageLevel

        cached = []

        def pin(df):
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            df.count()
            cached.append(df)
            return df

        with tracer.span("pipeline"):
            ruled = self.rules(self.seq)
            _noop(ruled)
        ruled = pin(ruled)
        with tracer.span("asof"):
            t0 = time.perf_counter()
            joined = self.asof(ruled)
            plan_s = time.perf_counter() - t0
            _noop(joined)
        joined = pin(joined)
        matched = joined.filter("label_value IS NOT NULL").count()
        with tracer.span("window"):
            feats = self.features(joined)
            _noop(feats)
        feats = pin(feats)
        with tracer.span("lineage"):
            _, _, written = self.lineage(feats, "trace")
        sink = self.work / "sink-trace"
        with tracer.span("sink"):
            feats.write.mode("overwrite").parquet(str(sink))
        for df in cached:
            df.unpersist()
        return {
            "tables.rows": self.rows,
            "asof.plan_s": plan_s,
            "asof.match_rate": matched / self.rows,
            "lineage.rows_written": written,
            "sink.mb_written": _dir_bytes(sink) / (1 << 20),
        }


class AsofHot(_Sequences):
    """One seed-chosen entity holds half the rows; ``auto`` as-of with
    ``nearest`` and a tolerance, ``tokens`` in the left payload, into
    parquet. Checked against a ``pandas.merge_asof`` oracle built from the
    generated files."""

    name = "asof_hot"
    n_events, n_users, hot_share = HOT_EVENTS, HOT_USERS, HOT_SHARE
    execution_layers = ("asof", "sink")

    def shape_left(self, seq):
        return seq.select("doc_id", "event_time", "event_id", "tokens")

    def asof(self):
        from go_html_transform_spark.operators.asof import asof_join

        cold = self.n_events * (1 - self.hot_share) / self.n_users
        # between the cold and hot timeline lengths: only the hot entity
        # is routed to the bucketed plan
        return asof_join(
            self.seq, self.lab, strategy="auto", direction="nearest",
            tolerance=TOLERANCE_S, auto_hot_rows=int((self.hot_rows * cold) ** 0.5),
        )

    def setup_plan(self) -> None:
        ev = pq.read_table(self.sf / "events.parquet").to_pandas()
        ev["doc_id"] = ev["user_id"].map("d{:06d}".format)
        left = ev[["doc_id", "ts", "event_id"]].rename(columns={"ts": "event_time"})
        right = ev.loc[ev["event_type"] == "purchase", ["doc_id", "ts", "value"]]
        right = right.rename(columns={"ts": "obs_time", "value": "label_value"})
        right["label_time"] = right["obs_time"]
        oracle = pd.merge_asof(
            left.sort_values("event_time", kind="mergesort"),
            right.sort_values("obs_time", kind="mergesort"),
            left_on="event_time", right_on="obs_time", by="doc_id",
            direction="nearest", tolerance=pd.Timedelta(seconds=TOLERANCE_S),
        )
        self.oracle = self.fingerprint(oracle)

    @staticmethod
    def fingerprint(df: pd.DataFrame) -> tuple[int, int]:
        """(rows, order-insensitive hash) over key/time/label columns."""
        canon = pd.DataFrame(
            {
                "doc_id": df["doc_id"].astype(str),
                "event_time": _micros(df["event_time"]),
                "event_id": df["event_id"].astype("int64"),
                "label_value": df["label_value"].astype("float64").fillna(-1.0),
                "label_time": np.where(
                    df["label_time"].isna(), -1,
                    _micros(df["label_time"].fillna(pd.Timestamp(0))),
                ),
            }
        )
        h = pd.util.hash_pandas_object(canon, index=False).to_numpy()
        return len(canon), int(h.sum(dtype=np.uint64))

    def execute(self, tag):
        out = self.out_path(tag)
        self.asof().write.mode("overwrite").parquet(str(out))
        return out

    def check(self, tag, out) -> bool:
        cols = ["doc_id", "event_time", "event_id", "label_value", "label_time"]
        return self.fingerprint(_read(out, cols)) == self.oracle

    def trace_layers(self, tracer) -> dict:
        from pyspark import StorageLevel

        with tracer.span("asof"):
            t0 = time.perf_counter()
            joined = self.asof()
            plan_s = time.perf_counter() - t0
            _noop(joined)
        joined = joined.persist(StorageLevel.MEMORY_AND_DISK)
        matched = joined.filter("label_value IS NOT NULL").count()
        sink = self.work / "sink-trace"
        with tracer.span("sink"):
            joined.write.mode("overwrite").parquet(str(sink))
        joined.unpersist()
        return {
            "tables.rows": self.rows,
            "asof.plan_s": plan_s,
            "asof.match_rate": matched / self.rows,
            "sink.mb_written": _dir_bytes(sink) / (1 << 20),
        }


PREPARE_ARGS = dict(
    near_dup_on="shingles3", jaccard_threshold=0.6, min_quality_ppm=0, lang=None,
)


class PrepareCorpus(Workload):
    """``prepare_training_corpus`` over a seeded ``sources.synth`` Zipf
    corpus with planted near-duplicates: every doc_key % DUP_EVERY == 1
    copies doc_key - 1 with ~5% of its tokens redrawn."""

    name = "prepare_corpus"
    warmups = 2
    rows = CORPUS_DOCS
    # one execution is one call into the prepare layer
    execution_span = "prepare"
    execution_layers = ("text", "dedup")
    planted = sum(1 for k in range(1, CORPUS_DOCS) if k % DUP_EVERY == 1)

    def generate(self, rep: int, tracer=None) -> None:
        from pyspark.sql import functions as F

        from go_html_transform_spark.sources import synth as Z

        shutil.rmtree(self.work / f"corpus-{rep - 1}", ignore_errors=True)
        self.corpus = self.work / f"corpus-{rep}"
        docs = Z.zipf_documents(self.spark, CORPUS_DOCS, dup_every=DUP_EVERY, seed=self.seed)
        with _span(tracer, "synth"):
            # the documents-table shape sources.tables reads: text is the
            # space-joined token words
            (
                docs.select(
                    F.col("doc_key").alias("doc_id"),
                    F.concat_ws(
                        " ", F.transform("tokens", lambda t: F.concat(F.lit("w"), t))
                    ).alias("text"),
                    F.lit("xx").alias("lang"),
                    F.concat(F.lit("s"), F.pmod("doc_key", F.lit(5))).alias("source"),
                )
                .withColumn("n_chars", F.length("text"))
                .repartition(self.spark.sparkContext.defaultParallelism)
                .write.parquet(str(self.corpus / "documents.parquet"))
            )
        if tracer is not None:
            with tracer.span("synth.gen"):
                _noop(docs)
        self.first = None

    def prepare(self, out: Path) -> dict:
        from go_html_transform_spark.plans.prepare import prepare_training_corpus

        _, stats = prepare_training_corpus(
            self.spark, str(self.corpus), out_dir=str(out), **PREPARE_ARGS
        )
        return stats

    def execute(self, tag):
        out = self.out_path(tag)
        return out, self.prepare(out)

    def check(self, tag, result) -> bool:
        """Stage counts and output rows repeat exactly across executions;
        also records the planted-duplicate recall."""
        out, stats = result
        keys = _read(out, ["doc_key"])["doc_key"].to_numpy()
        survivors = int(((keys % DUP_EVERY == 1) & (keys > 0)).sum())
        self.dup_recall = 1.0 - survivors / self.planted
        seen = (sorted(stats.items()), len(keys))
        if self.first is None:
            self.first = seen
        return seen == self.first

    def trace_layers(self, tracer) -> dict:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from go_html_transform_spark.functions import text as TX
        from go_html_transform_spark.functions.kernels import minhash16_arrow
        from go_html_transform_spark.operators import dedup as D
        from go_html_transform_spark.sources import tables as S

        doc = S.documents_tokenized(self.spark, str(self.corpus))
        doc = doc.persist(StorageLevel.MEMORY_AND_DISK)
        doc.count()
        with tracer.span("text"):
            _noop(
                doc.withColumn("lang_pred", TX.lang_id(F.col("text"))).withColumn(
                    "quality_ppm", TX.quality_score_ppm(F.col("text"))
                )
            )
        with tracer.span("dedup"):
            exact = D.exact_dedup(doc, "doc_id", F.col("text"))
            exact = exact.persist(StorageLevel.MEMORY_AND_DISK)
            pairs = D.ngram_near_duplicates(
                exact, "doc_id", threshold=PREPARE_ARGS["jaccard_threshold"]
            ).select("id_a", "id_b")
            pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
            _noop(D.near_dedup_keep_canonical(exact, pairs, "doc_id"))
        # counts at the dedup boundary, outside its span
        n_pairs = pairs.count()
        sh = exact.select("doc_id", D.shingles3(F.col("tokens")).alias("__sh"))
        n_cand = D.minhash_lsh_candidates(sh, "doc_id", tokens_col="__sh").count()
        bands = sh.select(F.explode(D.lsh_bands(minhash16_arrow(F.col("__sh")))).alias("band"))
        max_bucket = bands.groupBy("band").count().agg(F.max("count")).first()[0]
        for df in (pairs, exact, doc):
            df.unpersist()
        return {
            "dedup.candidates": n_cand,
            "dedup.pairs": n_pairs,
            "dedup.pair_yield": n_pairs / max(1, n_cand),
            "dedup.max_band_bucket": max_bucket,
        }


WORKLOADS = {w.name: w for w in (FeaturePipeline, PrepareCorpus, AsofHot)}
