"""End-to-end training-corpus preparation (plans/prepare.py).

Checks the composed pipeline against an independent recomputation from
its already-oracle-checked building blocks, the sink layout, the
observed stage stats, and the single-execution discipline (no stage runs
more than its consumer count requires)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from test_scale_hygiene import _jobs_in

from go_html_transform_spark.functions import text as TX
from go_html_transform_spark.operators import dedup as D
from go_html_transform_spark.operators import sharding as SH
from go_html_transform_spark.plans.prepare import (
    prepare_training_corpus,
    release_training_corpus,
)
from go_html_transform_spark.sources import tables as S

SF_DIR = "/root/testdata/sf0.001"

PARAMS = dict(min_quality_ppm=250_000, lang=None, jaccard_threshold=0.85)

# Spark jobs of the sink-mode recipe (n_shards=8, PARAMS, sf0.001,
# local[4], 8 shuffle partitions) with no stats at all, i.e. without
# count barriers; with one count barrier per stage it ran 61.
SINK_JOBS_WITHOUT_STATS = 51

# the stats a run without a sink returns: the frames the eager
# connected-components jobs read in full
IN_CALL_KEYS = {
    "input", "after_quality_lang_filter", "after_exact_dedup", "near_dup_pairs"
}


@pytest.fixture(scope="module")
def prepared(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("prepared") / "corpus")
    _, stats = prepare_training_corpus(
        spark, SF_DIR, out_dir=out, n_shards=16, **PARAMS
    )
    return spark.read.parquet(out), stats


def _composed(spark):
    """(input, filtered, exact-deduped, verified pairs, survivors): the
    default recipe recomposed from its building blocks."""
    doc = S.documents_tokenized(spark, SF_DIR)
    kept = doc.filter(
        TX.quality_score_ppm(F.col("text")) >= PARAMS["min_quality_ppm"]
    )
    exact = D.exact_dedup(kept, "doc_id", F.col("text"))
    pairs = D.minhash_near_duplicates(
        exact, "doc_id", threshold=PARAMS["jaccard_threshold"]
    ).select("id_a", "id_b")
    final = D.near_dedup_keep_canonical(exact, pairs, "doc_id")
    return doc, kept, exact, pairs, final


def _expected_ids(spark):
    final = _composed(spark)[-1]
    return {r.doc_id for r in final.select("doc_id").collect()}


def test_prepare_matches_composed_stages(spark, prepared):
    df, stats = prepared
    got = {r.doc_id for r in df.select("doc_id").collect()}
    assert got == _expected_ids(spark)
    assert stats["input"] >= stats["after_quality_lang_filter"]
    assert stats["after_quality_lang_filter"] >= stats["after_exact_dedup"]
    assert stats["after_exact_dedup"] >= stats["after_near_dedup"]
    assert stats["after_near_dedup"] == len(got) > 0


def test_prepare_shards_are_stable_and_in_range(spark, prepared):
    df, _ = prepared
    rows = df.select("doc_key", "shard").collect()
    assert all(0 <= r.shard < 16 for r in rows)
    # shard depends only on (key, seed) — recompute independently
    for r in rows[:50]:
        assert r.shard == SH.shuffle_hash_py(r.doc_key) % 16


def test_prepare_sink_partitioned_by_shard(spark, tmp_path):
    out = str(tmp_path / "corpus")
    _, stats = prepare_training_corpus(
        spark, SF_DIR, out_dir=out, n_shards=8, **PARAMS
    )
    back = spark.read.parquet(out)
    assert {r.shard for r in back.select("shard").distinct().collect()} <= set(
        range(8)
    )
    # every stage stat equals an exact count of the recomposed stage
    doc, kept, exact, pairs, final = _composed(spark)
    assert stats == {
        "input": doc.count(),
        "after_quality_lang_filter": kept.count(),
        "after_exact_dedup": exact.count(),
        "near_dup_pairs": pairs.count(),
        "after_near_dedup": final.count(),
    }
    assert back.count() == stats["after_near_dedup"]


def test_prepare_sink_stats_add_no_spark_job(spark, tmp_path):
    """The observed stats ride the production execution: the sink-mode
    recipe runs no more jobs than it did with no stats at all."""
    _, jobs = _jobs_in(
        spark,
        "prepare-sink-jobs",
        lambda: prepare_training_corpus(
            spark, SF_DIR, out_dir=str(tmp_path / "corpus"), n_shards=8, **PARAMS
        ),
    )
    assert 0 < len(jobs) <= SINK_JOBS_WITHOUT_STATS


def test_prepare_counts_stages_above_an_empty_one(spark, tmp_path):
    """A quality gate no doc passes empties every later stage; the
    counts of the stages before it are still observed, and the session's
    AQE rule setting is back as it was after the call. The empty sink
    reads back as 0 rows with the prepared schema, shard included."""
    rules = "spark.sql.adaptive.optimizer.excludedRules"
    before = spark.conf.get(rules, "")
    out = str(tmp_path / "corpus")
    prepared, stats = prepare_training_corpus(
        spark, SF_DIR, out_dir=out, n_shards=4,
        min_quality_ppm=10**9, lang=None,
    )
    assert spark.conf.get(rules, "") == before
    assert stats == {
        "input": S.documents_tokenized(spark, SF_DIR).count(),
        "after_quality_lang_filter": 0,
        "after_exact_dedup": 0,
        "near_dup_pairs": 0,
        "after_near_dedup": 0,
    }
    back = spark.read.parquet(out)
    assert back.count() == 0
    def fields(df):
        return sorted((f.name, f.dataType.simpleString()) for f in df.schema)

    assert fields(back) == fields(prepared)


def test_prepare_lm_bucket_stage_after_an_empty_gate(spark, tmp_path):
    """Perplexity-bucket sampling over an empty corpus completes and
    counts 0 (it has no LM quantiles to take)."""
    out = str(tmp_path / "corpus")
    _, stats = prepare_training_corpus(
        spark, SF_DIR, out_dir=out, n_shards=4,
        min_quality_ppm=10**9, lang=None,
        lm_bucket_keep_ppm={0: 1_000_000, 1: 1_000_000, 2: 200_000},
    )
    assert stats["input"] > 0
    assert {k: v for k, v in stats.items() if k != "input"} == {
        "after_quality_lang_filter": 0,
        "after_exact_dedup": 0,
        "near_dup_pairs": 0,
        "after_near_dedup": 0,
        "after_lm_bucket_sampling": 0,
    }
    assert (Path(out) / "_SUCCESS").exists()


def test_prepare_without_sink_returns_the_in_call_keys(spark, prepared):
    """Without out_dir only the counts that jobs inside the call read in
    full come back, each equal to the sink run's value; the returned
    frame holds the sink run's rows."""
    sunk, sink_stats = prepared
    df, stats = prepare_training_corpus(spark, SF_DIR, n_shards=16, **PARAMS)
    try:
        assert stats == {k: sink_stats[k] for k in IN_CALL_KEYS}
        assert {r.doc_id for r in df.select("doc_id").collect()} == {
            r.doc_id for r in sunk.select("doc_id").collect()
        }
    finally:
        release_training_corpus(df)


def test_prepare_full_recipe_with_optional_stages(spark, tmp_path):
    """Decontamination + source mixing + packing, end to end."""
    doc = S.documents_tokenized(spark, SF_DIR)
    # eval set: token slices of 3 documents that survive the quality
    # filter (so decontamination provably removes something)
    ev = (
        doc.filter(
            (F.col("n_tok") >= 8)
            & (TX.quality_score_ppm(F.col("text")) >= PARAMS["min_quality_ppm"])
        )
        .limit(3)
        .select(F.col("doc_key").alias("id"), F.slice("tokens", 1, 8).alias("tokens"))
    )
    out = str(tmp_path / "corpus")
    _, stats = prepare_training_corpus(
        spark,
        SF_DIR,
        out_dir=out,
        n_shards=8,
        eval_df=ev,
        decontaminate_ngram=8,
        mix_weights={"src0": 0.6, "src1": 0.4},
        pack_context_len=128,
        **PARAMS,
    )
    rows = spark.read.parquet(out).collect()
    assert stats["after_decontaminate"] < stats["after_quality_lang_filter"]
    assert stats["after_mixing"] <= stats["after_near_dedup"]
    assert stats["after_mixing"] == len(rows)
    srcs = {r.source for r in rows}
    assert srcs <= {"src0", "src1"} and rows  # default_ppm=0 drops the rest
    for r in rows[:50]:
        assert r.pack_id == r.tok_before // 128
        assert r.pack_offset == r.tok_before % 128


def test_prepare_with_boilerplate_stage(spark):
    """Opt-in C4-style boilerplate removal between filter and dedup:
    text is rewritten, tokens/n_tok re-derived, bp_removed folded into
    stats and dropped from the schema."""
    df, stats = prepare_training_corpus(
        spark, SF_DIR, n_shards=8, boilerplate_min_docs=2, **PARAMS
    )
    rows = df.select("doc_id", "text", "tokens", "n_tok").collect()
    release_training_corpus(df)
    assert "bp_removed" not in df.columns
    assert stats["boilerplate_segments_removed"] >= 0
    for r in rows:
        assert r.n_tok == len(r.tokens)
        # tokens were re-derived from the REWRITTEN text, not the input
        assert len(r.tokens) == len(r.text.split())

    # an unreachable hot-set threshold must reduce to the baseline run
    # (the corpus is single-spaced, so the rewrite is the identity)
    base, _ = prepare_training_corpus(spark, SF_DIR, n_shards=8, **PARAMS)
    noop, _ = prepare_training_corpus(
        spark,
        SF_DIR,
        n_shards=8,
        boilerplate_min_docs=10**9,
        **PARAMS,
    )
    assert {r.doc_id for r in noop.select("doc_id").collect()} == {
        r.doc_id for r in base.select("doc_id").collect()
    }
    release_training_corpus(base)
    release_training_corpus(noop)


def test_prepare_release_unpins_exactly_what_it_persisted(spark):
    df, _ = prepare_training_corpus(spark, SF_DIR, n_shards=4, **PARAMS)
    pinned = df._prepare_persisted
    # the default recipe pins the doubly-consumed exact-dedup stage AND
    # the near-dup pair graph (unpersisted, the iterative connected-
    # components loop would recompute the whole LSH pipeline per round —
    # measured 1.64x on the end-to-end recipe, BENCH/OPS.md round 5)
    assert len(pinned) == 2
    assert all(p.storageLevel.useMemory or p.storageLevel.useDisk for p in pinned)
    release_training_corpus(df)
    assert all(
        not (p.storageLevel.useMemory or p.storageLevel.useDisk) for p in pinned
    )


def test_prepare_new_optional_stages(spark, tmp_path):
    """Repetition gate, PII redaction, perplexity-bucket sampling and the
    split column compose into the recipe: survivors respect every gate,
    split labels are disjoint/exhaustive/stable, and the default recipe
    is unchanged when the knobs stay off."""
    from go_html_transform_spark.functions import repetition as REP
    from go_html_transform_spark.operators import sampling as SAM

    out = str(tmp_path / "corpus")
    _, stats = prepare_training_corpus(
        spark,
        SF_DIR,
        out_dir=out,
        min_quality_ppm=0,
        lang=None,
        max_rep3_top_ppm=900_000,
        redact_pii=True,
        lm_bucket_keep_ppm={0: 1_000_000, 1: 1_000_000, 2: 200_000},
        split_holdout_ppm=(50_000, 50_000),
    )
    rows = (
        spark.read.parquet(out)
        .select("doc_id", "doc_key", "text", "tokens", "split")
        .collect()
    )
    assert len(rows) > 0
    assert "after_lm_bucket_sampling" in stats
    assert stats["after_lm_bucket_sampling"] <= stats["after_near_dedup"]
    # every survivor passes the repetition gate on its (redacted) tokens
    surv = spark.createDataFrame(
        [(r.doc_id, r.tokens) for r in rows], "doc_id string, tokens array<int>"
    )
    reps = REP.with_repetition(surv, "tokens", 3).collect()
    assert all(r.rep3_top_ppm <= 1_000_000 for r in reps)
    # split labels valid + deterministic re-derivation from doc_key
    labels = {r.doc_key: r.split for r in rows}
    assert set(labels.values()) <= {"train", "val", "test"}
    rederived = {
        r.doc_key: r.s
        for r in spark.createDataFrame(
            [(k,) for k in labels], "doc_key long"
        ).select(
            "doc_key",
            SAM.assign_split(F.col("doc_key"), 50_000, 50_000, seed=13).alias("s"),
        ).collect()
    }
    assert labels == rederived


def test_audit_split_contamination_detects_planted_leak(spark):
    """A train doc sharing a 13-gram with a test doc is flagged; a clean
    corpus audits to zero."""
    from go_html_transform_spark.plans.prepare import audit_split_contamination

    shared = list(range(100, 120))  # 20 tokens -> 13-gram overlap
    rows = [
        ("t0", shared + [1, 2, 3], "train"),
        ("t1", [5] * 30, "train"),
        ("v0", [9, 8] + shared, "val"),
        ("v1", [7] * 30, "test"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, split string"
    )
    counts, n_held = audit_split_contamination(df)
    got = {r.doc_id: r.n_contaminated for r in counts.collect()}
    assert n_held == 2
    assert "t0" in got and got["t0"] >= 1
    assert "t1" not in got
    clean = spark.createDataFrame(
        [("a", [1] * 20, "train"), ("b", [2] * 20, "val")],
        "doc_id string, tokens array<int>, split string",
    )
    c2, _ = audit_split_contamination(clean)
    assert c2.count() == 0


def test_pack_contexts_assembly_roundtrip(spark):
    """Packed contexts: every pack is exactly context_len tokens (except
    each shard's final pack), spans tile each pack gaplessly, and
    re-assembling every document's pieces across packs reproduces the
    original token array byte-for-byte."""
    import random

    from go_html_transform_spark.operators import packing as PK
    from go_html_transform_spark.operators import sharding as SHO

    rng = random.Random(4)
    rows = [
        (i, [rng.randrange(1000) for _ in range(rng.randrange(1, 90))])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_key long, tokens array<int>")
    df = df.withColumn("doc_id", F.col("doc_key").cast("string")).withColumn(
        "n_tok", F.size("tokens")
    )
    sharded = SHO.assign_shards(df, F.col("doc_key"), 4)
    assigned = PK.pack_assign(sharded, F.col("doc_key"), "n_tok", 64)
    packs = PK.pack_contexts(assigned, context_len=64).collect()
    # tiling: full packs are exactly 64; at most one short pack per shard
    by_shard: dict[int, list] = {}
    for p in packs:
        by_shard.setdefault(p.shard, []).append(p)
    for shard, ps in by_shard.items():
        ps.sort(key=lambda p: p.pack_id)
        for p in ps[:-1]:
            assert len(p.tokens) == 64, (shard, p.pack_id)
        assert 0 < len(ps[-1].tokens) <= 64
        # spans tile each pack gaplessly in order
        for p in ps:
            pos = 0
            for s in p.spans:
                assert s.begin == pos
                pos = s.end
            assert pos == len(p.tokens)
    # document round-trip across packs
    rebuilt: dict[str, list] = {}
    for p in sorted(packs, key=lambda p: (p.shard, p.pack_id)):
        for s in p.spans:
            rebuilt.setdefault(s.doc_id, []).extend(
                p.tokens[s.begin : s.end]
            )
    originals = {str(k): v for k, v in rows}
    assert rebuilt == {k: v for k, v in originals.items() if v}


def test_prepare_learned_quality_dsir_and_bpe_stages(spark, tmp_path):
    """The learned-classifier gate, DSIR selection and BPE retokenization
    compose into the recipe: survivors all clear the model threshold,
    DSIR keeps exactly the positive-weight docs of the deduped frame,
    and the final tokens equal the returned merge table replayed over
    the pre-BPE tokens."""
    from go_html_transform_spark.operators import bpe as BPE
    from go_html_transform_spark.operators import classifier as CLF
    from go_html_transform_spark.operators import selection as SEL

    doc = S.documents_tokenized(spark, SF_DIR)
    # train the quality model on a cheap heuristic label (quality_ppm
    # median split) — the stage contract is scoring, not label quality
    med = doc.select(
        F.percentile_approx(TX.quality_score_ppm(F.col("text")), 0.5, 1000)
    ).first()[0]
    w, b = CLF.train_logistic_hashed(
        doc, TX.quality_score_ppm(F.col("text")) >= med, num_iters=5
    )

    out = str(tmp_path / "corpus")
    _, stats = prepare_training_corpus(
        spark,
        SF_DIR,
        out_dir=out,
        min_quality_ppm=0,
        lang=None,
        quality_model=(w, b),
        min_quality_p=0.4,
        dsir_target=F.col("lang") == "en",
        bpe_num_merges=6,
    )
    rows = spark.read.parquet(out).select("doc_id", "tokens", "n_tok").collect()
    assert len(rows) > 0
    assert stats["after_dsir_selection"] <= stats["after_near_dedup"]
    merges = stats["bpe_merges"]
    assert len(merges) == 6

    # survivors clear the model gate
    surv_ids = {r.doc_id for r in rows}
    scored = {
        r.doc_id: r.quality_p
        for r in CLF.score_logistic_hashed(doc, w, b).collect()
    }
    assert all(scored[d] >= 0.4 for d in surv_ids)

    # reconstruct the pre-BPE deduped+selected frame independently and
    # check DSIR membership + BPE replay
    kept = doc.join(
        spark.createDataFrame([(d,) for d in scored if scored[d] >= 0.4],
                              "doc_id string"),
        "doc_id", "inner",
    )
    exact = D.exact_dedup(kept, "doc_id", F.col("text"))
    pairs = D.minhash_near_duplicates(
        exact, "doc_id", threshold=0.9
    ).select("id_a", "id_b")
    deduped = D.near_dedup_keep_canonical(exact, pairs, "doc_id")
    dsel = {
        r.doc_id
        for r in SEL.dsir_weights(deduped, F.col("lang") == "en")
        .filter(F.col("selected") == 1)
        .collect()
    }
    assert surv_ids == dsel
    pre = {r.doc_id: list(r.tokens) for r in deduped.collect()}
    for r in rows:
        assert list(r.tokens) == BPE._apply_merges_row(pre[r.doc_id], merges)
        assert r.n_tok == len(r.tokens)


def test_fuzz_prepare_two_seeds(spark, tmp_path):
    """tools/fuzz_prepare.py on two drawn configurations: survivor ids,
    stage stats and split labels match the recomposed operators."""
    tool = Path(__file__).resolve().parents[1] / "tools" / "fuzz_prepare.py"
    spec = importlib.util.spec_from_file_location("fuzz_prepare", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    results = mod.check_seeds(spark, SF_DIR, range(2), str(tmp_path))
    assert [(seed, bad) for seed, _, bad in results if bad] == []
