"""Corpus-statistics sketch layer (operators/sketches.py): DuckDB parity
on dirty data (NULL elements, empty arrays), CMS overestimate property,
deterministic heavy-hitter top-k, and plan hygiene."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from go_html_transform_spark.operators import sketches as SK

DIRTY = [
    ("d0", [1, 2, 2, 3, None, 2]),
    ("d1", [2, 3]),
    ("d2", []),
    ("d3", None),
    ("d4", [7]),
    ("d5", [3, 3, 3, 1]),
]


@pytest.fixture(scope="module")
def dirty_df(spark):
    return spark.createDataFrame(
        DIRTY, "doc_id string, tokens array<int>"
    ).withColumn("n_tok", F.coalesce(F.size("tokens"), F.lit(0)))


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE rel (doc_id VARCHAR, tokens INTEGER[])")
    con.executemany("INSERT INTO rel VALUES (?, ?)", DIRTY)
    con.execute(
        "CREATE VIEW reln AS SELECT doc_id, tokens,"
        " COALESCE(len(tokens), 0) AS n_tok FROM rel"
    )
    yield con
    con.close()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _duck_rows(con, sql):
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def test_token_frequencies_parity(dirty_df, duck):
    got = _rows(SK.token_frequencies(dirty_df))
    want = _duck_rows(duck, SK.token_frequencies_sql("rel"))
    assert got == want
    # spot-check semantics: NULL dropped, token 2 appears 4x
    assert (2, 4) in got


def test_document_frequencies_parity(dirty_df, duck):
    got = _rows(SK.document_frequencies(dirty_df))
    want = _duck_rows(duck, SK.document_frequencies_sql("rel"))
    assert got == want
    assert (3, 3) in got  # d0, d1, d5


def test_heavy_hitters_parity_and_tiebreak(dirty_df, duck):
    got = [tuple(r) for r in SK.heavy_hitters(dirty_df, 3).collect()]
    want = [tuple(r) for r in duck.execute(SK.heavy_hitters_sql(3, "rel")).fetchall()]
    assert got == want
    # ties broken by token id ascending: tf(2)=4, tf(3)=5? recount:
    # 2: d0 x3 + d1 = 4 ; 3: d0 + d1 + d5 x3 = 5 ; 1: d0 + d5 = 2
    assert got[0] == (3, 5) and got[1] == (2, 4)


def test_bigram_counts_parity(dirty_df, duck):
    got = _rows(SK.bigram_counts(dirty_df))
    want = _duck_rows(duck, SK.bigram_counts_sql("rel"))
    assert got == want
    # d0 null-filtered: [1,2,2,3,2] -> (1,2),(2,2),(2,3),(3,2)
    assert (2, 3, 2) in got  # d0 + d1
    # empty / single / NULL arrays contribute nothing
    assert all(a is not None and b is not None for a, b, _ in got)


def test_length_histogram_parity(dirty_df, duck):
    got = _rows(SK.length_histogram(dirty_df))
    want = _duck_rows(duck, SK.length_histogram_sql("reln"))
    assert got == want
    # n_tok: 6,2,0,0,1,4 -> buckets floor(log2(n+1)): 2,1,0,0,1,2
    assert got == [(0, 2), (1, 2), (2, 2)]


def test_count_min_sketch_parity(dirty_df, duck):
    got = _rows(SK.count_min_sketch(dirty_df))
    want = _duck_rows(duck, SK.count_min_sketch_sql("rel"))
    assert got == want
    # total increments = depth * total non-null tokens (12)
    assert sum(c for _, _, c in got) == SK.CMS_DEPTH * 12


def test_cms_estimate_overestimates_true_tf(spark, dirty_df):
    """One-sided error: est >= true tf for every token; exact when no
    collisions (vocab here is tiny vs width 256)."""
    sk = SK.count_min_sketch(dirty_df)
    tf = SK.token_frequencies(dirty_df)
    est = SK.cms_estimate(sk, tf.select("token"))
    joined = tf.join(est, "token").collect()
    assert joined
    for r in joined:
        assert r.tf_est >= r.tf


def test_cms_estimate_unseen_token_zero(spark, dirty_df):
    sk = SK.count_min_sketch(dirty_df)
    q = spark.createDataFrame([(999999,)], "token int")
    [r] = SK.cms_estimate(sk, q).collect()
    # unseen token may collide with seen cells (overestimate), but with
    # this tiny corpus vs width 256 all 4 hash rows land on empty cells
    assert r.tf_est == 0


def test_sketch_plans_single_shuffle(dirty_df):
    """Each statistic is one explode + one partial-agg'd exchange — no
    second shuffle, no sort before the agg."""
    for df in (
        SK.token_frequencies(dirty_df),
        SK.document_frequencies(dirty_df),
        SK.bigram_counts(dirty_df),
        SK.count_min_sketch(dirty_df),
        SK.length_histogram(dirty_df),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
    # heavy hitters adds only TakeOrderedAndProject on top
    hh = SK.heavy_hitters(dirty_df, 3)
    plan = hh._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange") == 1, plan


# ---------------------------------------------------------------------------
# KMV distinct-count sketch
# ---------------------------------------------------------------------------


def test_kmv_parity_and_exact_small(dirty_df, duck):
    """Sketch contents strict-match DuckDB; below k distinct the sketch
    IS the distinct set (exact count)."""
    got = [r.h for r in SK.kmv_sketch(dirty_df, "tokens").collect()]
    want = [
        r[0]
        for r in duck.execute(
            SK.kmv_sketch_sql("rel", "tokens")
        ).fetchall()
    ]
    assert got == want
    # distinct non-null tokens: {1,2,3,7} -> exact
    assert len(got) == 4
    assert SK.kmv_estimate_distinct(got) == 4.0


def test_kmv_merge_property(spark):
    """Union two sketches, re-take k smallest == sketch of the union."""
    a = spark.createDataFrame(
        [(i, [i * 3 + j for j in range(3)]) for i in range(100)],
        "id long, tokens array<int>",
    )
    b = spark.createDataFrame(
        [(i, [i * 5 + j for j in range(3)]) for i in range(100)],
        "id long, tokens array<int>",
    )
    merged = (
        SK.kmv_sketch(a, "tokens")
        .unionByName(SK.kmv_sketch(b, "tokens"))
        .distinct()
        .orderBy("h")
        .limit(SK.KMV_K)
    )
    whole = SK.kmv_sketch(a.unionByName(b), "tokens")
    assert [r.h for r in merged.collect()] == [r.h for r in whole.collect()]


def test_kmv_estimate_accuracy(spark):
    """~5000 known-distinct values, k=64: the (k-1)*P/h_k estimate lands
    within the expected ~1/sqrt(k) relative-error band (generous 2.5x)."""
    import random

    rng = random.Random(7)
    vals = rng.sample(range(1, 2**30), 5000)
    rows = [(i, vals[i * 50 : (i + 1) * 50]) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, tokens array<int>")
    sketch = [r.h for r in SK.kmv_sketch(df, "tokens").collect()]
    est = SK.kmv_estimate_distinct(sketch)
    assert abs(est - 5000) / 5000 < 2.5 / (SK.KMV_K ** 0.5), est


def test_kmv_over_shingles_plan(spark, dirty_df):
    """The motivating use: distinct 3-gram shingles. Plan stays one
    partial-agg'd exchange + TakeOrdered (no global sort)."""
    from go_html_transform_spark.operators.dedup import shingles3

    kmv = SK.kmv_sketch(dirty_df, shingles3(F.col("tokens")))
    plan = kmv._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange") == 1, plan
    rows = [r.h for r in kmv.collect()]
    assert rows == sorted(rows)


def test_distinctive_tokens_parity_and_ranking(dirty_df, duck):
    """tf-idf-style keyword CSV matches DuckDB bit-for-bit on dirty data
    (NULL elements skipped; empty/NULL arrays -> ''), and the ranking is
    the exact (tf DESC, df ASC, token ASC) order."""
    got = _rows(
        SK.distinctive_tokens(dirty_df, k=2).select("doc_id", "top_tokens_csv")
    )
    want = _duck_rows(
        duck,
        f"WITH {SK.distinctive_tokens_ctes('rel', k=2)} "
        "SELECT doc_id, COALESCE(top_tokens_csv, '') AS top_tokens_csv "
        "FROM rel LEFT JOIN tk_csv USING (doc_id)",
    )
    assert got == want
    by_id = dict(got)
    # d0 = [1,2,2,3,NULL,2]: token 2 tf=3 wins; 1 vs 3 tie on tf=1
    # breaks on df (1 appears in 2 docs, 3 in 3) -> 1 ranks ahead
    assert by_id["d0"] == "2:3:2,1:1:2"
    assert by_id["d2"] == "" and by_id["d3"] == ""  # empty + NULL arrays


def test_distinctive_tokens_stats_df_decouples_idf(spark):
    """df map can come from a different (larger) relation than the one
    being annotated — pre-cleaning stats applied to a cleaned corpus."""
    stats = spark.createDataFrame(
        [("s0", [1, 2]), ("s1", [2]), ("s2", [2])],
        "doc_id string, tokens array<int>",
    )
    target = spark.createDataFrame(
        [("t0", [1, 2])], "doc_id string, tokens array<int>"
    )
    row = (
        SK.distinctive_tokens(target, k=2, stats_df=stats)
        .select("top_tokens_csv")
        .first()
    )
    # same tf=1 for both; df from STATS corpus (1 -> df 1, 2 -> df 3)
    assert row[0] == "1:1:1,2:1:3"


def test_distinctive_tokens_corpus_never_exchanges(dirty_df):
    """The annotated corpus side must be exchange-free: the only
    hashpartitioning lives in the vocab-bounded df-map subtree (groupBy
    token) — a doc-keyed exchange would be a second one outside it."""
    p = (
        SK.distinctive_tokens(dirty_df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Exchange hashpartitioning") <= 1, p
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p, p


def test_value_quantiles_exact_order_statistics(spark):
    """quantile_disc semantics: smallest v with cum >= ceil(q*n); pinned
    against python's exact order statistic on a skewed distribution,
    plus edge quantiles and a single-value corpus."""
    import math
    import random

    rng = random.Random(13)
    vals = [rng.choice([1] * 8 + [5, 9]) for _ in range(997)]
    df = spark.createDataFrame([(v,) for v in vals], "n_tok int")
    qs = (1, 250_000, 500_000, 900_000, 1_000_000)
    got = {
        r.q_ppm: r.value
        for r in SK.value_quantiles(df, "n_tok", qs_ppm=qs).collect()
    }
    s = sorted(vals)
    for q in qs:
        k = max(1, math.ceil(q * len(s) / 1_000_000))
        assert got[q] == s[k - 1], q
    one = spark.createDataFrame([(7,)], "n_tok int")
    assert {
        r.value for r in SK.value_quantiles(one, "n_tok", qs_ppm=qs).collect()
    } == {7}


def test_quantile_threshold_exact_past_2pow53(spark):
    """The ceil threshold must be INTEGER division: with n ~ 1.2e10 rows,
    q_ppm*n + 999999 > 2^53, where a double `/` rounds the quotient down
    by 1 for adversarial (q, n). Evaluates the exact expression used by
    value_quantiles against python bigint math on hazard points."""
    cases = []
    for n in (9_007_199_254, 12_345_678_901, 10**12):
        for q in (1, 333_333, 500_000, 900_001, 999_999, 1_000_000):
            cases.append((q, n))
    df = spark.createDataFrame(cases, "q_ppm long, n long")
    got = df.select(
        "q_ppm",
        "n",
        F.expr("(CAST(q_ppm AS BIGINT) * n + 999999) div 1000000").alias(
            "thr"
        ),
    ).collect()
    for r in got:
        want = (r.q_ppm * r.n + 999_999) // 1_000_000
        assert r.thr == want, (r.q_ppm, r.n, r.thr, want)


def test_value_quantiles_histogram_plan(spark):
    """The corpus-side plan: ONE hashpartitioning exchange (the histogram
    partial agg); the cumsum window only ever sees |domain| rows."""
    df = spark.range(0, 10000).select((F.col("id") % 100).alias("n_tok"))
    plan = (
        SK.value_quantiles(df, "n_tok")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # histogram agg exchange + the tiny singleton window move + the final
    # q groupBy; the corpus itself is exchanged exactly once
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_lm_perplexity_buckets_partition_properties(spark):
    """CCNet head/middle/tail: every scored doc gets exactly one bucket,
    proportions track the 33/67 thresholds, head docs score higher LM
    metrics than tail docs, and the assignment is deterministic."""
    from go_html_transform_spark.sources.tables import documents_tokenized

    doc = documents_tokenized(spark, "/root/testdata/sf0.001")
    out = SK.lm_perplexity_buckets(doc)
    rows = out.collect()
    n = len(rows)
    assert n > 0
    counts = {b: sum(1 for r in rows if r.lm_bucket == b) for b in (0, 1, 2)}
    assert sum(counts.values()) == n
    # ~1/3 each (quantized thresholds: allow 12% absolute slack)
    for b in (0, 1, 2):
        assert abs(counts[b] / n - 1 / 3) < 0.12, counts
    # ordering: min metric of head >= max metric of tail can fail only at
    # quantization boundaries; compare means instead (strictly ordered)
    mean = {
        b: sum(r.lm_metric for r in rows if r.lm_bucket == b) / counts[b]
        for b in (0, 1, 2)
    }
    assert mean[0] > mean[1] > mean[2], mean
    again = {r.doc_id: r.lm_bucket for r in SK.lm_perplexity_buckets(doc).collect()}
    assert again == {r.doc_id: r.lm_bucket for r in rows}


def test_lm_perplexity_buckets_without_bigrams_is_empty(spark, dirty_df):
    """No doc with two tokens (or no doc at all) leaves no metric to
    take quantiles of: the result is empty, with the normal schema."""
    normal = SK.lm_perplexity_buckets(dirty_df).schema
    for df in (dirty_df.filter(F.size("tokens") < 2), dirty_df.limit(0)):
        out = SK.lm_perplexity_buckets(df)
        assert out.schema == normal
        assert out.collect() == []


def test_value_quantiles_by_group_order_statistics(spark):
    """Per-group quantiles equal python order statistics per group."""
    import math
    import random

    rng = random.Random(8)
    rows = [(rng.choice(["a", "b", "c"]), rng.choice([1, 2, 3, 8, 40]))
            for _ in range(600)]
    df = spark.createDataFrame(rows, "source string, n_tok int")
    qs = (500_000, 900_000)
    got = {
        (r.grp, r.q_ppm): r.value
        for r in SK.value_quantiles_by(df, "source", "n_tok", qs).collect()
    }
    from collections import defaultdict

    per = defaultdict(list)
    for g, v in rows:
        per[g].append(v)
    for g, vals in per.items():
        s = sorted(vals)
        for q in qs:
            k = max(1, math.ceil(q * len(s) / 1_000_000))
            assert got[(g, q)] == s[k - 1], (g, q)
