"""Multi-seed property fuzz of the whole prepare recipe.

tests/test_prepare.py pins a handful of fixed configurations of
``plans.prepare.prepare_training_corpus``. This tool draws a random one
per seed: ``min_quality_ppm`` (across the sf0.001 quality range, so some
seeds keep every doc and some keep none), ``jaccard_threshold``,
``near_dup_on``, and benchmark decontamination (``eval_df``), source
mixing (``mix_weights``) and the holdout split (``split_holdout_ppm``)
each on or off. It runs the recipe into a parquet sink and checks the
survivor ids, every stage stat and the split labels against the recipe
recomposed from its building blocks (each already checked against its
DuckDB oracle), with one exact ``count()`` per stage.

Usage: python tools/fuzz_prepare.py <sf_dir> [n_seeds]   (default 8)
where sf_dir is the sf0.001 testdata directory (TESTDATA.md), whose
quality scores the ``min_quality_ppm`` range is drawn across. Prints one
JSON line; exits non-zero on any divergence (printing the divergences
first).
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EVAL_NGRAM = 8


def draw(rng: random.Random, docs: list, sources: list[str]) -> dict:
    """One random recipe configuration; ``docs`` is [(doc_key, tokens)]
    (eval slices come from it), ``sources`` the corpus's sources."""
    cfg = {
        "min_quality_ppm": rng.randrange(350_000, 580_001, 1_000),
        "jaccard_threshold": round(rng.uniform(0.5, 0.95), 2),
        "near_dup_on": rng.choice(("tokens", "shingles3")),
    }
    if rng.random() < 0.5:
        picked = rng.sample([d for d in docs if len(d[1]) >= EVAL_NGRAM], 3)
        start = rng.randrange(0, 3)
        cfg["eval_rows"] = [
            (k, toks[start : start + EVAL_NGRAM]) for k, toks in picked
        ]
    if rng.random() < 0.5:
        cfg["mix_weights"] = {
            s: round(rng.uniform(0.1, 1.0), 2)
            for s in rng.sample(sources, rng.randrange(1, 5))
        }
    if rng.random() < 0.5:
        cfg["split_holdout_ppm"] = (
            rng.randrange(0, 200_001, 1_000),
            rng.randrange(0, 200_001, 1_000),
        )
    return cfg


def recompose(spark, sf_dir: str, cfg: dict, ev) -> tuple[set, dict]:
    """(survivor ids, stage counts) of ``cfg`` composed from the
    operators directly."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from go_html_transform_spark.functions import text as TX
    from go_html_transform_spark.operators import decontaminate as DC
    from go_html_transform_spark.operators import dedup as D
    from go_html_transform_spark.operators import sampling as SA
    from go_html_transform_spark.sources import tables as S

    doc = S.documents_tokenized(spark, sf_dir)
    kept = doc.filter(TX.quality_score_ppm(F.col("text")) >= cfg["min_quality_ppm"])
    stats = {"input": doc.count(), "after_quality_lang_filter": kept.count()}
    if ev is not None:
        kept = DC.decontaminate(kept, ev, "doc_id", n=EVAL_NGRAM, mode="drop")
        stats["after_decontaminate"] = kept.count()
    exact = D.exact_dedup(kept, "doc_id", F.col("text")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    stats["after_exact_dedup"] = exact.count()
    near = (
        D.ngram_near_duplicates
        if cfg["near_dup_on"] == "shingles3"
        else D.minhash_near_duplicates
    )
    pairs = (
        near(exact, "doc_id", threshold=cfg["jaccard_threshold"])
        .select("id_a", "id_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats["near_dup_pairs"] = pairs.count()
    final = D.near_dedup_keep_canonical(exact, pairs, "doc_id")
    stats["after_near_dedup"] = final.count()
    if "mix_weights" in cfg:
        counts = {
            r["source"]: r["n"]
            for r in final.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        rates = SA.mix_weights_to_rates(counts, cfg["mix_weights"])
        final = SA.stratified_sample(
            final, F.col("doc_key"), "source", rates, default_ppm=0
        )
        stats["after_mixing"] = final.count()
    ids = {r.doc_id for r in final.select("doc_id").collect()}
    exact.unpersist()
    pairs.unpersist()
    return ids, stats


def check_seed(spark, sf_dir: str, seed: int, work: str) -> tuple[dict, list]:
    """Run one drawn configuration; return (config, divergences)."""
    from pyspark.sql import functions as F

    from go_html_transform_spark.operators import sampling as SA
    from go_html_transform_spark.plans.prepare import prepare_training_corpus
    from go_html_transform_spark.sources import tables as S

    doc = S.documents_tokenized(spark, sf_dir)
    docs = sorted(
        (r.doc_key, list(r.tokens)) for r in doc.select("doc_key", "tokens").collect()
    )
    sources = sorted(r.source for r in doc.select("source").distinct().collect())
    cfg = draw(random.Random(seed * 7919 + 3), docs, sources)
    ev = None
    if "eval_rows" in cfg:
        ev = spark.createDataFrame(cfg["eval_rows"], "id long, tokens array<int>")
    out = os.path.join(work, f"seed{seed}")
    kwargs = {k: v for k, v in cfg.items() if k != "eval_rows"}
    if ev is not None:
        kwargs.update(eval_df=ev, decontaminate_ngram=EVAL_NGRAM)
    _, stats = prepare_training_corpus(
        spark, sf_dir, out_dir=out, lang=None, n_shards=8, **kwargs
    )
    want_ids, want_stats = recompose(spark, sf_dir, cfg, ev)

    bad = []
    back = spark.read.parquet(out)
    got_ids = {r.doc_id for r in back.select("doc_id").collect()}
    if got_ids != want_ids:
        bad.append(("ids", len(got_ids), len(want_ids), len(got_ids ^ want_ids)))
    if stats != want_stats:
        bad.append(("stats", stats, want_stats))
    if "split_holdout_ppm" in cfg:
        val_ppm, test_ppm = cfg["split_holdout_ppm"]
        want = SA.assign_split(F.col("doc_key"), val_ppm, test_ppm, seed=13)
        wrong = back.filter(F.col("split") != want).count()
        if wrong:
            bad.append(("split", wrong))
    return cfg, bad


def check_seeds(spark, sf_dir: str, seeds, work: str) -> list:
    """(seed, drawn config, divergences) for each seed."""
    return [(seed, *check_seed(spark, sf_dir, seed, work)) for seed in seeds]


def main() -> None:
    sf_dir = sys.argv[1]
    n_seeds = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from go_html_transform_spark.session import get_spark

    spark = get_spark(app_name="fuzz-prepare", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as work:
        results = check_seeds(spark, sf_dir, range(n_seeds), work)
    failures = [(seed, cfg, b) for seed, cfg, bad in results for b in bad]
    for f in failures[:20]:
        print("DIVERGENCE", f, file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "prepare recipe vs recomposed operators (sink stats + ids)",
                "seeds": n_seeds,
                "configs": [
                    {k: (v if k != "eval_rows" else len(v)) for k, v in cfg.items()}
                    for _, cfg, _ in results
                ],
                "divergences": len(failures),
            }
        )
    )
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
