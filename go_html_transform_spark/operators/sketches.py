"""Corpus-statistics sketch layer: token frequencies, document
frequencies, heavy hitters, adjacent-bigram counts, sequence-length
histogram, and a count-min sketch.

Training-data curation needs corpus-level token statistics — vocabulary
building for tokenizer training, boilerplate / heavy-hitter detection,
PMI-style phrase mining over bigram counts, and length histograms for
packing/batching decisions. The reference engine's analogue is its
vocabulary dimension (SURVEY.md §2.12, css/tokenizer contract): these
operators build that dimension FROM the corpus itself at scale.

Design for 10^12 rows:

* every operator is explode -> groupBy with map-side partial
  aggregation, so per-partition hash-agg state is bounded by the
  DISTINCT key count (vocab for unigrams, vocab^2 worst-case for
  bigrams, depth*width for the sketch) — NOT by row count. The single
  shuffle moves only the partially-aggregated groups.
* the count-min sketch is the sub-vocabulary-memory path: its shuffle
  and final state are exactly depth*width cells regardless of corpus or
  vocabulary size, and merging two sketches is cell-wise addition (the
  groupBy does it for free), so sketches compose across partitions,
  days, or shards.
* heavy hitters use orderBy(...).limit(k) which Spark plans as
  TakeOrderedAndProject — per-partition top-k then a k-row merge on the
  driver, never a global sort.
* hashes reuse the affine family (a*t + b) mod P from operators/dedup
  — expressible identically in DuckDB for the oracle.

NULL-element contract (pinned by the oracle fuzz harness,
tests/test_oracle_fuzz.py): NULL tokens are dropped before counting on
BOTH engines — Spark null-filters explicitly; DuckDB's list_filter twin
does the same.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_html_transform_spark.operators.dedup import h_sql, _h

CMS_DEPTH = 4
CMS_WIDTH = 256


def _tokens_nonnull(tokens: Column | str) -> Column:
    col = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.filter(col, lambda t: t.isNotNull())


def tokens_nonnull_sql(tokens: str = "tokens") -> str:
    return f"list_filter({tokens}, t -> t IS NOT NULL)"


# ---------------------------------------------------------------------------
# exact token statistics
# ---------------------------------------------------------------------------


def token_frequencies(df: DataFrame, tokens: str = "tokens") -> DataFrame:
    """(token, tf): corpus-wide occurrence counts.

    One explode + one shuffle; partial aggregation caps the exchanged
    rows at |vocab| per map partition, so the shuffle is O(vocab), not
    O(corpus)."""
    return (
        df.select(F.explode(_tokens_nonnull(tokens)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("tf"))
    )


def token_frequencies_sql(rel: str = "seq", tokens: str = "tokens") -> str:
    return f"""
        SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM {rel}, unnest({tokens_nonnull_sql(tokens)}) AS u(t)
        GROUP BY 1
    """


def document_frequencies(df: DataFrame, tokens: str = "tokens") -> DataFrame:
    """(token, df): number of rows whose token array contains the token.

    Per-row ``array_distinct`` BEFORE the explode keeps the distinct-ing
    row-local (pure Column arithmetic, no extra shuffle) — the groupBy
    then counts rows, not occurrences."""
    return (
        df.select(
            F.explode(F.array_distinct(_tokens_nonnull(tokens))).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )


def document_frequencies_sql(rel: str = "seq", tokens: str = "tokens") -> str:
    # DuckDB list_distinct also drops NULLs; the explicit filter keeps the
    # two engines' null contract aligned rather than incidental.
    return f"""
        SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS df
        FROM {rel}, unnest(list_distinct({tokens_nonnull_sql(tokens)})) AS u(t)
        GROUP BY 1
    """


def heavy_hitters(df: DataFrame, k: int, tokens: str = "tokens") -> DataFrame:
    """Top-k tokens by frequency, deterministic tie-break on token id.

    Plans as TakeOrderedAndProject over the vocab-bounded frequency
    table — no global sort."""
    return token_frequencies(df, tokens).orderBy(
        F.desc("tf"), F.asc("token")
    ).limit(k)


def heavy_hitters_sql(k: int, rel: str = "seq", tokens: str = "tokens") -> str:
    return f"""
        SELECT token, tf FROM ({token_frequencies_sql(rel, tokens)})
        ORDER BY tf DESC, token ASC LIMIT {k}
    """


def bigram_counts(df: DataFrame, tokens: str = "tokens") -> DataFrame:
    """(a, b, cnt): adjacent-pair counts — the raw material for PMI
    phrase mining and tokenizer-merge candidates.

    Pair construction is posexplode + an element_at on the SAME
    materialized array attribute — no higher-order-function lambda, so
    the whole pre-agg pipeline stays in whole-stage codegen. (The
    tempting ``transform(slice(...), (x, i) -> element_at(tokens, i+2))``
    form captures the outer filtered-array EXPRESSION inside the lambda,
    which interpreted HOF eval re-computes per element — the O(n^2)
    capture trap plans/rules.py:363 documents and regression-guards.)
    The only shuffle is the final groupBy, partial-aggregated to the
    distinct-bigram count per partition."""
    exploded = df.select(_tokens_nonnull(tokens).alias("__t")).select(
        "__t", F.posexplode("__t").alias("i", "a")
    )
    return (
        exploded.filter(F.col("i") < F.size("__t") - 1)
        .select("a", F.element_at("__t", F.col("i") + F.lit(2)).alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cnt"))
    )


def bigram_counts_sql(rel: str = "seq", tokens: str = "tokens") -> str:
    # DuckDB lists are 1-indexed; range(n) is 0-based, so the pair at
    # offset i is (toks[i+1], toks[i+2]) for i in 0..len-2.
    return f"""
        SELECT toks[i + 1] AS a, toks[i + 2] AS b,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT {tokens_nonnull_sql(tokens)} AS toks FROM {rel}),
             unnest(range(len(toks) - 1)) AS r(i)
        GROUP BY 1, 2
    """


def length_histogram(df: DataFrame, n_tok: str = "n_tok") -> DataFrame:
    """(bucket, cnt): power-of-two sequence-length histogram
    (bucket = floor(log2(n_tok + 1)), integer-exact via bit_length).

    Length distribution drives packing context-length choices
    (operators/packing.py) and batch-size planning; integer bucket ids
    keep the result bit-exact cross-engine (no float log)."""
    # bit_length(n+1) - 1 == floor(log2(n+1)) for n >= 0, all-integer.
    bucket = (
        F.length(F.conv((F.col(n_tok) + 1).cast("string"), 10, 2)) - 1
    ).cast("int")
    return (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def length_histogram_sql(rel: str = "seq", n_tok: str = "n_tok") -> str:
    return f"""
        SELECT CAST(length(ltrim(bin({n_tok} + 1), '0')) - 1 AS INTEGER)
                 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM {rel} GROUP BY 1
    """


def value_quantiles(
    df: DataFrame,
    col: str = "n_tok",
    qs_ppm: tuple[int, ...] = (500_000, 900_000, 990_000),
) -> DataFrame:
    """(q_ppm, value): EXACT discrete quantiles (type-1 / quantile_disc:
    the smallest v whose cumulative count reaches ceil(q*n)) over a
    bounded integer domain, via value-histogram + running cumsum.

    The scale answer for quantiles of a bounded column (n_tok lives in
    [0, ~2^16]): one vocab-bounded partial-agg'd exchange builds the
    histogram; the cumsum window then runs over |domain| rows — NOT the
    corpus — so the single-partition window is a few-KB driver-scale
    step, never a global sort of 10^12 rows. (For unbounded domains the
    histogram step buckets first — same machinery as length_histogram.)
    ceil is exact int64: (q*n + 999999) // 1e6, q*n <= 1e6 * 1e12."""
    from pyspark.sql import Window

    hist = df.groupBy(F.col(col).alias("v")).agg(F.count("*").alias("c"))
    cum = F.sum("c").over(
        Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    )
    total = F.sum("c").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # window exprs FIRST, explode in a separate select: a Generate in the
    # same projection multiplies rows before the Window runs, tripling
    # every cum (found by the strict crosscheck — p50 landed one value off)
    ranked = hist.select("v", cum.alias("cum"), total.alias("n"))
    scored = ranked.select(
        "v",
        "cum",
        "n",
        F.explode(F.array(*[F.lit(q) for q in qs_ppm])).alias("q_ppm"),
    )
    # exact integer ceil(q*n/1e6) = (q*n + 999999) div 1e6 — the `div`
    # operator is int64 integral division; a double `/` would round once
    # q*n + 999999 exceeds 2^53 (n ~ 9e9 rows), yielding thr-1
    thr = F.expr("(CAST(q_ppm AS BIGINT) * n + 999999) div 1000000")
    return (
        scored.filter(F.col("cum") >= thr)
        .groupBy("q_ppm")
        .agg(F.min("v").cast("long").alias("value"))
    )


def value_quantiles_by(
    df: DataFrame,
    group_col: str,
    col: str = "n_tok",
    qs_ppm: tuple[int, ...] = (500_000, 900_000),
) -> DataFrame:
    """(group, q_ppm, value): :func:`value_quantiles` per group — the
    histogram exchange keys on (group, v) (still vocab-bounded PER
    GROUP), and the cumsum window partitions by group, so no
    single-partition move ever sees more than one group's |domain|."""
    from pyspark.sql import Window

    hist = df.groupBy(
        F.col(group_col).alias("grp"), F.col(col).alias("v")
    ).agg(F.count("*").alias("c"))
    cum = F.sum("c").over(
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    total = F.sum("c").over(
        Window.partitionBy("grp").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    ranked = hist.select("grp", "v", cum.alias("cum"), total.alias("n"))
    scored = ranked.select(
        "grp",
        "v",
        "cum",
        "n",
        F.explode(F.array(*[F.lit(q) for q in qs_ppm])).alias("q_ppm"),
    )
    thr = F.expr("(CAST(q_ppm AS BIGINT) * n + 999999) div 1000000")
    return (
        scored.filter(F.col("cum") >= thr)
        .groupBy("grp", "q_ppm")
        .agg(F.min("v").cast("long").alias("value"))
    )


def value_quantiles_by_sql(
    rel: str = "seq",
    group_col: str = "source",
    col: str = "n_tok",
    qs_ppm: tuple[int, ...] = (500_000, 900_000),
) -> str:
    qs = ", ".join(str(q) for q in qs_ppm)
    return f"""
        SELECT grp, q_ppm, CAST(MIN(v) AS BIGINT) AS value
        FROM (
          SELECT grp, v,
                 CAST(SUM(c) OVER (PARTITION BY grp ORDER BY v)
                      AS BIGINT) AS cum,
                 CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n
          FROM (SELECT {group_col} AS grp, {col} AS v, COUNT(*) AS c
                FROM {rel} GROUP BY 1, 2)
        ), unnest([{qs}]) AS u(q_ppm)
        WHERE cum >= (q_ppm * n + 999999) // 1000000
        GROUP BY grp, q_ppm
    """


def value_quantiles_sql(
    rel: str = "seq",
    col: str = "n_tok",
    qs_ppm: tuple[int, ...] = (500_000, 900_000, 990_000),
) -> str:
    qs = ", ".join(str(q) for q in qs_ppm)
    return f"""
        SELECT q_ppm, CAST(MIN(v) AS BIGINT) AS value
        FROM (
          SELECT v,
                 CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cum,
                 CAST(SUM(c) OVER () AS BIGINT) AS n
          FROM (SELECT {col} AS v, COUNT(*) AS c FROM {rel} GROUP BY 1)
        ), unnest([{qs}]) AS u(q_ppm)
        WHERE cum >= (q_ppm * n + 999999) // 1000000
        GROUP BY q_ppm
    """


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def cms_cells(token: Column, depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> Column:
    """array<struct<r,cell>> of the depth cells one token increments —
    shared by the batch sketch, the point lookup, and the streaming
    sketch (streaming/stream.py)."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                (_h(i, token) % width).cast("int").alias("cell"),
            )
            for i in range(depth)
        ]
    )


def count_min_sketch(
    df: DataFrame,
    tokens: str = "tokens",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(r, cell, cnt): a depth x width count-min sketch of token
    occurrences.

    Each occurrence contributes one increment per hash row; the explode
    fan-out is depth x, but partial aggregation bounds the exchange at
    depth*width cells per map partition — the sketch's whole point: the
    shuffled/merged state is CONSTANT in corpus and vocabulary size.
    Row i uses the affine family h_i(t) = ((2i+1)a*t + i*b) mod P mod
    width (operators/dedup.py constants — DuckDB-expressible)."""
    return (
        df.select(F.explode(_tokens_nonnull(tokens)).alias("t"))
        .select(F.explode(cms_cells(F.col("t"), depth, width)).alias("rc"))
        .select("rc.r", "rc.cell")
        .groupBy("r", "cell")
        .agg(F.count("*").alias("cnt"))
    )


def count_min_sketch_sql(
    rel: str = "seq",
    tokens: str = "tokens",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> str:
    rows = " UNION ALL ".join(
        f"SELECT {i} AS r, CAST(({h_sql(i, 't')}) % {width} AS INTEGER)"
        f" AS cell FROM toks"
        for i in range(depth)
    )
    return f"""
        WITH toks AS (
            SELECT t FROM {rel}, unnest({tokens_nonnull_sql(tokens)}) AS u(t)
        )
        SELECT r, cell, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ({rows}) GROUP BY 1, 2
    """


KMV_K = 64
# Distinct-count hashing needs a space >> the distinct cardinality being
# estimated (the 2^19 MINHASH_P family would saturate on n-gram spaces):
# a ~2^40 prime with a ~2^20 multiplier. The value is reduced mod P
# BEFORE the multiply — (v % P) * a == v * a (mod P), so hashes of
# small values are unchanged while any non-negative int64 input stays
# overflow-safe ((P-1) * a < 2^60): the 2^21-base packed shingles span
# the full int64 range. Identical arithmetic in Spark and DuckDB
# (both % operators agree on non-negative dividends).
KMV_P = 1099511627689  # largest prime < 2^40
KMV_A = 1048573
KMV_B = 779230769


def _kmv_h(v: Column) -> Column:
    return (v.cast("long") % KMV_P * KMV_A + KMV_B) % KMV_P


def kmv_h_sql(v: str = "v") -> str:
    return f"(CAST({v} AS BIGINT) % {KMV_P} * {KMV_A} + {KMV_B}) % {KMV_P}"


def kmv_sketch(
    df: DataFrame,
    values: Column | str,
    k: int = KMV_K,
) -> DataFrame:
    """K-minimum-values distinct-count sketch: the k smallest DISTINCT
    affine-hash values of an exploded array column (one row per value,
    ascending).

    Where the CMS answers "how often", KMV answers "how many distinct"
    — for spaces too large to count exactly (distinct n-gram shingles at
    10^12 docs is the motivating case). Properties:

    * exact-deterministic contents (the k smallest hashes are a set
      function of the input), so the sketch itself is oracle-checkable —
      unlike HLL registers, whose merge order DuckDB and Spark would
      disagree on.
    * mergeable: union two sketches, take the k smallest again.
    * estimate: (k-1) * HASH_SPACE / h_k (kmv_estimate_distinct).

    Plan: explode -> row-local hash -> groupBy(h) for distinctness (the
    partial aggregation dedups map-side, so the exchange carries each
    partition's distinct hashes once) -> TakeOrderedAndProject(k). At
    extreme cardinality the groupBy exchange dominates; the refinement
    is a static pre-filter h < margin * k/n_lower * P once a corpus
    lower bound is known — same plan, epsilon shuffle."""
    col = F.col(values) if isinstance(values, str) else values
    hashed = df.select(F.explode(col).alias("v")).filter(
        F.col("v").isNotNull()
    ).select(_kmv_h(F.col("v")).alias("h"))
    return hashed.groupBy("h").agg(F.lit(1).alias("__one")).select("h").orderBy(
        "h"
    ).limit(k)


def kmv_sketch_sql(
    rel: str,
    values_sql: str,
    k: int = KMV_K,
) -> str:
    return f"""
        SELECT DISTINCT {kmv_h_sql('v')} AS h
        FROM {rel}, unnest({values_sql}) AS u(v)
        WHERE v IS NOT NULL
        ORDER BY h ASC LIMIT {k}
    """


def kmv_estimate_distinct(sketch_rows: list[int], k: int = KMV_K) -> float:
    """Driver-side estimate from the materialized (tiny) sketch: if fewer
    than k distinct values exist the count is exact (= len)."""
    if len(sketch_rows) < k:
        return float(len(sketch_rows))
    return (k - 1) * KMV_P / float(max(sketch_rows))


def bigram_lm_stats(
    df: DataFrame, id_col: str = "doc_id", tokens: str = "tokens"
) -> DataFrame:
    """(id, lm_pairs, lm_sum, lm_avg): CCNet/KenLM-style model-based
    quality scoring — each document scored by how typical its adjacent
    token bigrams are under the corpus's own bigram counts. lm_avg (mean
    corpus count of the document's bigrams, double) ranks documents for
    quality filtering: word-soup scores low, formulaic boilerplate high.

    Exactness: lm_pairs/lm_sum are int64; lm_avg is one int64/int64 IEEE
    division — bit-identical cross-engine (no logs, no rounding).

    Scale shape: the LM table is vocab^2-BOUNDED (built by bigram_counts'
    single partial-agg'd exchange) and broadcasts; the corpus side is a
    narrow pair-explode -> broadcast hash join -> groupBy(id). The final
    exchange carries one partially-aggregated row per document, not per
    pair. Self-referential scoring (LM from the same df) is the intended
    use, but any pre-built (a, b, cnt) LM can be passed through
    ``bigram_lm_score``."""
    return bigram_lm_score(df, bigram_counts(df, tokens), id_col, tokens)


def lm_perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens: str = "tokens",
    head_ppm: int = 330_000,
    tail_ppm: int = 670_000,
    levels: int = 1024,
) -> DataFrame:
    """(id, lm_metric, lm_bucket): CCNet's head/middle/tail partition —
    documents bucketed by corpus-self-trained LM score quantiles (head =
    most typical / lowest perplexity, tail = least). Everything stays
    exact-integer so both engines agree bit-for-bit:

    1. per-doc metric m = lm_sum*1000 // lm_pairs (exact scaled mean of
       corpus bigram counts — HIGH m = typical text = CCNet 'head');
    2. m is affinely quantized to ``levels`` integer levels between the
       observed corpus [min, max];
    3. the head/tail thresholds are exact order statistics of the
       quantized metric — and because the quantization is MONOTONE
       non-decreasing, order statistics commute with it: the quantized
       threshold equals quantize(raw threshold). So min, max, head and
       tail all come out of ONE value_quantiles pass over the RAW metric
       (q=0 ppm is the min — cum >= 0 matches every row; q=1e6 ppm is
       the max), instead of a separate min/max action — one pass over a
       10^12-doc frame, not two;
    4. bucket assignment is one broadcast of the 2-row threshold table +
       a codegen'd CASE: 0 = head (q >= tail threshold: most typical),
       1 = middle, 2 = tail.

    Scale shape on top of bigram_lm_stats' own plan: ONE |metric
    domain|-bounded quantile pass (histogram + cumsum exchange), one
    broadcast. Docs with < 2 tokens drop out (no pairs — the
    bigram_lm_stats contract); when no doc is left, the result is an
    empty frame of the same schema."""
    stats = bigram_lm_stats(df, id_col, tokens)
    m = (
        (F.col("lm_sum") * F.lit(1000))
        - F.pmod(F.col("lm_sum") * F.lit(1000), F.col("lm_pairs"))
    ) / F.col("lm_pairs")
    scored = stats.select(id_col, m.cast("long").alias("lm_metric"))
    qs = tuple(sorted({0, head_ppm, tail_ppm, 1_000_000}))
    raw = {
        int(r["q_ppm"]): int(r["value"])
        for r in value_quantiles(
            scored.select("lm_metric"), "lm_metric", qs_ppm=qs
        ).collect()
    }
    if not raw:
        # no doc with a bigram: same schema, no rows
        return scored.select(
            id_col, "lm_metric", F.lit(0).alias("lm_bucket")
        ).limit(0)
    lo, hi = raw[0], raw[1_000_000]
    span = max(1, int(hi) - int(lo) + 1)
    # exact floor division idiom (x - x%span)/span: the double divide of
    # an exact multiple with quotient <= levels is exact — no 2^53 hazard
    x = (F.col("lm_metric") - F.lit(int(lo))) * F.lit(levels)
    qcol = ((x - F.pmod(x, F.lit(span))) / F.lit(span)).cast("long")
    quantized = scored.withColumn("__q", qcol)

    def quantize(v: int) -> int:
        return ((v - int(lo)) * levels) // span

    h, t = quantize(raw[head_ppm]), quantize(raw[tail_ppm])
    bucket = (
        F.when(F.col("__q") > F.lit(t), F.lit(0))  # head: most typical
        .when(F.col("__q") > F.lit(h), F.lit(1))  # middle
        .otherwise(F.lit(2))  # tail
    )
    return quantized.select(
        id_col, "lm_metric", bucket.cast("int").alias("lm_bucket")
    )


def lm_perplexity_buckets_sql(
    rel: str = "doc",
    id_col: str = "doc_id",
    tokens: str = "tokens",
    head_ppm: int = 330_000,
    tail_ppm: int = 670_000,
    levels: int = 1024,
) -> str:
    """DuckDB twin: the same metric -> quantize -> order-statistic
    thresholds -> CASE chain as one self-contained scalar pipeline."""
    return f"""
        WITH __st AS (
            SELECT {id_col},
                   (CAST(lm_sum AS BIGINT) * 1000) // lm_pairs AS lm_metric
            FROM ({bigram_lm_stats_sql(rel, id_col, tokens)})
        ),
        __mm AS (
            SELECT MIN(lm_metric) AS lo,
                   MAX(lm_metric) - MIN(lm_metric) + 1 AS span
            FROM __st
        ),
        __qz AS (
            SELECT {id_col}, lm_metric,
                   (lm_metric - lo) * {levels} // GREATEST(span, 1) AS q
            FROM __st, __mm
        ),
        __thr AS (
            SELECT q_ppm, value FROM (
                SELECT q_ppm, CAST(MIN(v) AS BIGINT) AS value
                FROM (
                  SELECT v,
                         CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cum,
                         CAST(SUM(c) OVER () AS BIGINT) AS n
                  FROM (SELECT q AS v, COUNT(*) AS c FROM __qz GROUP BY 1)
                ), unnest([{head_ppm}, {tail_ppm}]) AS u(q_ppm)
                WHERE cum >= (q_ppm * n + 999999) // 1000000
                GROUP BY q_ppm
            )
        )
        SELECT {id_col}, lm_metric,
               CAST(CASE
                 WHEN q > (SELECT value FROM __thr WHERE q_ppm = {tail_ppm})
                   THEN 0
                 WHEN q > (SELECT value FROM __thr WHERE q_ppm = {head_ppm})
                   THEN 1
                 ELSE 2 END AS INTEGER) AS lm_bucket
        FROM __qz
    """


def bigram_lm_score(
    df: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    tokens: str = "tokens",
) -> DataFrame:
    exploded = df.select(
        F.col(id_col), _tokens_nonnull(tokens).alias("__t")
    ).select(id_col, "__t", F.posexplode("__t").alias("i", "a"))
    pairs = exploded.filter(F.col("i") < F.size("__t") - 1).select(
        id_col, "a", F.element_at("__t", F.col("i") + F.lit(2)).alias("b")
    )
    scored = pairs.join(F.broadcast(lm), ["a", "b"], "left")
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("lm_pairs"),
        F.sum(F.coalesce("cnt", F.lit(0))).cast("long").alias("lm_sum"),
        (
            F.sum(F.coalesce("cnt", F.lit(0))).cast("double")
            / F.count("*").cast("double")
        ).alias("lm_avg"),
    )


def bigram_lm_stats_sql(
    rel: str = "doc", id_col: str = "doc_id", tokens: str = "tokens"
) -> str:
    """DuckDB twin: same LM-from-corpus + per-doc join/aggregate. Docs
    with < 2 tokens produce no pairs and drop out (both engines)."""
    return f"""
        WITH __lm AS ({bigram_counts_sql(rel, tokens)}),
        __pairs AS (
            SELECT {id_col}, toks[i + 1] AS a, toks[i + 2] AS b
            FROM (SELECT {id_col}, {tokens_nonnull_sql(tokens)} AS toks
                  FROM {rel}),
                 unnest(range(len(toks) - 1)) AS r(i)
        )
        SELECT {id_col},
               CAST(COUNT(*) AS BIGINT) AS lm_pairs,
               CAST(SUM(COALESCE(cnt, 0)) AS BIGINT) AS lm_sum,
               CAST(SUM(COALESCE(cnt, 0)) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS lm_avg
        FROM __pairs LEFT JOIN __lm USING (a, b)
        GROUP BY 1
    """


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    token: str = "token",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-lookup: estimate tf for each query token as min over the
    sketch's depth cells — the classic one-sided (over-)estimate.

    The sketch side is depth*width rows, always broadcast; lookups never
    shuffle the query side."""
    probed = (
        queries.select(
            F.col(token), F.explode(cms_cells(F.col(token), depth, width)).alias("rc")
        )
        .select(token, "rc.r", "rc.cell")
        .join(F.broadcast(sketch), ["r", "cell"], "left")
    )
    return probed.groupBy(token).agg(
        F.min(F.coalesce("cnt", F.lit(0))).alias("tf_est")
    )


# ---------------------------------------------------------------------------
# per-document distinctive tokens (tf-idf-style keyword extraction)
# ---------------------------------------------------------------------------


def df_map_row(df: DataFrame, tokens: str = "tokens") -> DataFrame:
    """The corpus document-frequency table folded into ONE map row —
    the broadcastable idf side of keyword extraction. Vocab-bounded
    (|map| <= VOCAB_SIZE), same fold-to-a-row pattern as the
    boilerplate hot set (operators/boilerplate.py): no driver collect,
    one exchange for the groupBy + the single-row final agg."""
    return document_frequencies(df, tokens).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("token"), F.col("df")))
        ).alias("__dfmap")
    )


def distinctive_tokens(
    df: DataFrame,
    tokens: str = "tokens",
    k: int = 5,
    out: str = "top_tokens_csv",
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """Append a per-document keyword column: the top-``k`` tokens ranked
    by (tf DESC, df ASC, token ASC) — the exact-integer order statistic
    behind tf-idf (high in-document frequency, low corpus document
    frequency) with no float score, so the ranking is bit-identical
    cross-engine. Output is ``"token:tf:df"`` CSV in rank order (``''``
    for empty/NULL token arrays).

    Scale shape (10^12 docs): the corpus side is NEVER exchanged — the
    df map folds to one broadcast row (``df_map_row``) and everything
    per-document is row-local array arithmetic. Per-row cost is
    O(distinct x len) via ``array_remove`` counting (documents, not
    books — fine), and every HOF lambda touches only MATERIALIZED
    attributes (``__t``, ``__dfmap``; plans/rules.py:363 discipline).

    ``stats_df`` computes the df map from a different relation than the
    one being annotated (e.g. pre-cleaning corpus statistics applied to
    a cleaned corpus).

    Reference analogue: SelectorQuery scoring by specificity
    (/root/reference/css/selector/selector.go) — ranking matches by an
    exact integer key rather than a float weight."""
    m = df_map_row(stats_df if stats_df is not None else df, tokens)
    staged = df.crossJoin(F.broadcast(m)).withColumn(
        "__t", _tokens_nonnull(tokens)
    )
    scored = F.transform(
        F.array_distinct(F.col("__t")),
        lambda t: F.struct(
            (F.size(F.array_remove(F.col("__t"), t)) - F.size(F.col("__t")))
            .alias("ntf"),
            F.element_at(F.col("__dfmap"), t).alias("df"),
            t.alias("token"),
        ),
    )
    csv = F.array_join(
        F.transform(
            F.slice(F.sort_array(scored), 1, k),
            lambda s: F.concat_ws(
                ":",
                s["token"].cast("string"),
                (-s["ntf"]).cast("string"),
                s["df"].cast("string"),
            ),
        ),
        ",",
    )
    return staged.withColumn(out, F.coalesce(csv, F.lit(""))).drop(
        "__t", "__dfmap"
    )


def distinctive_tokens_ctes(
    rel: str = "doc",
    id_col: str = "doc_id",
    tokens: str = "tokens",
    k: int = 5,
) -> str:
    """DuckDB twin as chained CTEs ending in ``tk_csv`` —
    (``id_col``, top_tokens_csv). LEFT JOIN it back to ``rel`` and
    COALESCE to '' (docs with no countable tokens produce no row)."""
    return f"""
        tk_tf AS (
            SELECT {id_col}, t AS token, CAST(COUNT(*) AS BIGINT) AS tf
            FROM {rel}, unnest({tokens_nonnull_sql(tokens)}) AS u(t)
            GROUP BY 1, 2
        ),
        tk_df AS ({document_frequencies_sql(rel, tokens)}),
        tk_ranked AS (
            SELECT {id_col}, token, tf, df,
                   row_number() OVER (
                       PARTITION BY {id_col}
                       ORDER BY tf DESC, df ASC, token ASC) AS rk
            FROM tk_tf JOIN tk_df USING (token)
        ),
        tk_csv AS (
            SELECT {id_col},
                   string_agg(token || ':' || tf || ':' || df,
                              ',' ORDER BY rk) AS top_tokens_csv
            FROM tk_ranked WHERE rk <= {k} GROUP BY 1
        )
    """
