"""Deduplication operators for the large-scale training-data pipeline:
exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 10^12 rows:

* exact: hash-groupBy on a canonical key — one shuffle, map-side partial.
* MinHash+LSH: signatures are array-native Column arithmetic (no UDF, no
  shuffle); banding turns near-dup detection into an equi-join on
  (band_id, band_key) — candidates only, verified by true Jaccard. The
  band join is the ONLY shuffle, and its key cardinality is huge (good
  distribution); identical-band groups are the natural skew risk, and
  shingle signatures (ngram_near_duplicates) keep them discriminative
  on skewed vocabularies.
* SimHash: 16-bit signature via pure bit arithmetic; Hamming-adjacent
  buckets join.
* n-gram Jaccard: shingles packed into int64 (t0<<20|t1<<10|t2), same
  LSH machinery.

Hash families are small-integer affine (a*t + b) mod P with constants
fixed below — expressible identically in DuckDB for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

MINHASH_P = 524287  # 2^19 - 1, prime
MINHASH_A = 40503
MINHASH_B = 69621
SIMHASH_P = 65536
SIMHASH_A = 40503
SIMHASH_B = 9973
# shingle = t0*B^2 + t1*B + t2 — injective iff every token id lies in
# [0, B); B = 2^21 makes B^3 - 1 == int64 max (the largest injective
# base), covering any realistic BPE/unigram vocab (32k/100k/1M). The
# range is VALIDATED per row in shingles3 — the previous B=1024 silently
# aliased distinct 3-grams on >1024-id vocabs, inflating n-gram Jaccard
# and the KMV shingle sketch.
SHINGLE_BASE = 2**21


def _h(i: int, t: Column) -> Column:
    """i-th affine hash over value t; t is reduced mod P before the
    multiply ((t % P) * a == t * a (mod P) — hashes of small values
    unchanged), so any non-negative int64 input is overflow-safe
    (P^2 < 2^38): packed 2^21-base shingles span the full int64
    range. Identical arithmetic in Spark and DuckDB."""
    a = (2 * i + 1) * MINHASH_A % MINHASH_P
    b = i * MINHASH_B % MINHASH_P
    return (t.cast("long") % MINHASH_P * a + b) % MINHASH_P


def h_sql(i: int, t: str = "t") -> str:
    a = (2 * i + 1) * MINHASH_A % MINHASH_P
    b = i * MINHASH_B % MINHASH_P
    return f"(CAST({t} AS BIGINT) % {MINHASH_P} * {a} + {b}) % {MINHASH_P}"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, id_col: str, key: Column) -> DataFrame:
    """Groups with >1 member on the canonical key: returns
    (dup_key, n_dups, canonical_id=min(id))."""
    return (
        df.select(F.col(id_col), key.alias("dup_key"))
        .groupBy("dup_key")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str, key: Column) -> DataFrame:
    """Keep one row (min id) per canonical key — the identity-set dedup of
    Chain.Find (css/selector/data.go:330,336-341) lifted to corpus scale.

    Shape: ONE exchange, as a hash aggregate ``min_by(row, id)`` grouped
    on ``(xxhash64(key), key)``. Two properties matter at 10^12 docs:

    * **partial aggregation**: duplicates collapse MAP-SIDE before the
      exchange, so a pathological key duplicated 10^9 times ships at most
      one pre-combined candidate row per input partition — and the reduce
      side merges at most #partitions candidates per key. The previous
      window form (lag over partitionBy(hash) + per-partition sort)
      shipped every copy into ONE window partition and sorted it there:
      windows cannot be AQE-skew-split and have no map-side combine, so
      one hot key serialized the stage.
    * the 8-byte ``__kh`` leads the grouping so the common fast path
      compares hashes, with the raw key alongside keeping COLLISIONS
      correct: distinct colliding keys form distinct groups, each keeping
      its own min-id row (forced-collision test pins this).

    Ties on a duplicated (key, id) pair keep exactly one arbitrary row —
    same contract as the window form's sort tie."""
    hashed = df.withColumn("__key", key).withColumn(
        "__kh", F.xxhash64(F.col("__key"))
    )
    # min_by SKIPS rows whose ordering key is NULL — a group whose ids
    # are all NULL would yield a NULL struct (an all-NULL output row)
    # instead of keeping a real one. The (is_null, id) struct ordering
    # ranks NULL ids after every real id and is itself never NULL, so
    # such groups still keep an actual row (matching the old window
    # form's NULLS-FIRST keep-one behavior in spirit: exactly one
    # survivor per group, min non-null id preferred).
    order = F.struct(
        F.col(id_col).isNull().cast("int").alias("n"),
        F.col(id_col).alias("i"),
    )
    kept = (
        hashed.groupBy("__kh", "__key")
        .agg(F.min_by(F.struct(*df.columns), order).alias("__row"))
        .select("__row.*")
    )
    return kept


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(tokens: Column, num_hashes: int = 16) -> Column:
    """array<bigint> of per-hash minima over the DISTINCT token set.
    Empty sets get sentinel P (never collides with real minima)."""
    uniq = F.array_distinct(tokens)

    def hasher(i: int):
        # closure factory — a `_i=i` default would be miscounted by
        # PySpark's lambda-arity inspection as the (element, index) form
        return lambda t: _h(i, t)

    sig = [
        F.coalesce(F.array_min(F.transform(uniq, hasher(i))), F.lit(MINHASH_P))
        for i in range(num_hashes)
    ]
    return F.array(*sig)


def minhash_signature_sql(tokens: str = "tokens", num_hashes: int = 16) -> str:
    parts = [
        f"COALESCE(list_min(list_transform(list_distinct({tokens}), "
        f"t -> {h_sql(i)})), {MINHASH_P})"
        for i in range(num_hashes)
    ]
    return "[" + ", ".join(parts) + "]"


def lsh_bands(sig: Column, bands: int = 4, rows: int = 4) -> Column:
    """array<string> of band keys: '<band>:<v1>-<v2>-...'."""
    keys = []
    for b in range(bands):
        vals = [F.element_at(sig, b * rows + r + 1) for r in range(rows)]
        keys.append(F.concat_ws("-", F.lit(str(b)), *[v.cast("string") for v in vals]))
    return F.array(*keys)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    tokens_col: str = "tokens",
    num_hashes: int = 16,
    bands: int = 4,
    use_arrow: bool | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >=1 LSH band.
    One explode + one equi-join self-join on the band key.

    Candidates are exact: every band-bucket joins in full, so a bucket
    shared by m docs contributes m^2 pairs from ONE join key, which no
    partitioning spreads. On skewed vocabularies raw-token signatures
    degenerate into such buckets; shingle signatures
    (``ngram_near_duplicates``) keep them discriminative (BENCH/OPS.md,
    round-5 prepare table).

    ``use_arrow`` picks the signature tier: the Arrow kernel
    (functions/kernels.minhash16_arrow, element-wise parity-pinned to
    the expression form) or the interpreted-HOF expression. Default
    ``None`` = auto: the kernel whenever num_hashes == 16 — the
    signature pass dominates candidate generation at realistic
    vocabulary sizes (57x measured at 32k-vocab, BENCH/OPS.md zipf
    rows), and both tiers return identical signatures. Pass False to
    force the expression form (the DuckDB-oracle anchor shape)."""
    rows = num_hashes // bands
    if use_arrow is None:
        use_arrow = num_hashes == 16
    if use_arrow:
        if num_hashes != 16:
            raise ValueError(
                f"the Arrow kernel is MinHash-16 only, got num_hashes={num_hashes}"
            )
        from go_html_transform_spark.functions.kernels import minhash16_arrow

        sig = minhash16_arrow(F.col(tokens_col))
    else:
        sig = minhash_signature(F.col(tokens_col), num_hashes)
    banded = df.select(
        F.col(id_col).alias("id"),
        F.explode(lsh_bands(sig, bands, rows)).alias("band"),
    )
    other = banded.select(F.col("id").alias("id_b"), F.col("band"))
    # USER-keyed repartition before the band self-join: the banded rows
    # are tiny (id + band hash), so AQE coalesces the join's shuffle to
    # a handful of tasks — but the join OUTPUT is the candidate
    # explosion (sum over band-buckets of |bucket|^2), which then runs
    # inside those few tasks (measured: 4 tasks on 32 cores at 50k zipf
    # docs). A user-specified distribution is never AQE-coalesced, so
    # distinct band values spread over the full width. (A single
    # degenerate band-bucket is inherently one key — that case is
    # bounded by the verify stage's own repartition and, at corpus
    # scale, by band width sizing: rows/band controls bucket collision
    # probability.)
    npart = _join_width(df.sparkSession)
    pairs = (
        banded.repartition(npart, F.col("band"))
        .join(other.repartition(npart, F.col("band")), "band")
        .filter(F.col("id") < F.col("id_b"))
        .select(F.col("id").alias("id_a"), "id_b")
        .distinct()
    )
    return pairs


def _join_width(spark) -> int:
    """Width of the user-keyed repartitions before the LSH band and
    verify joins: the session's shuffle width or twice its default
    parallelism, whichever is larger."""
    return max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        2 * spark.sparkContext.defaultParallelism,
    )


def jaccard(tokens_a: Column, tokens_b: Column) -> Column:
    ua, ub = F.array_distinct(tokens_a), F.array_distinct(tokens_b)
    inter = F.size(F.array_intersect(ua, ub)).cast("double")
    union = F.size(F.array_union(ua, ub)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def jaccard_ppm(tokens_a: Column, tokens_b: Column) -> Column:
    """Jaccard as EXACT half-up integer parts-per-million: |I| and |U| are
    small ints, so ppm = (2*|I|*1e6 + |U|) div (2*|U|) is bit-identical
    in any engine. ROUND(double, 6) is NOT: dyadic-denominator ratios
    (|U| = 128, 640, ...) produce exact 7-digit-terminating decimals
    ending in 5, where Spark (exact-decimal HALF_UP) and DuckDB
    (scaled-double round) can land on opposite sides — the same tie
    class found in the quality score at sf0.1."""
    ua, ub = F.array_distinct(tokens_a), F.array_distinct(tokens_b)
    inter = F.size(F.array_intersect(ua, ub)).cast("long")
    union = F.size(F.array_union(ua, ub)).cast("long")
    x = inter * F.lit(2_000_000) + union
    y = F.lit(2) * union
    # (x - x%y)/y: the quotient is an exact integer <= 1e6, so the double
    # division is exact
    return F.when(union > 0, ((x - F.pmod(x, y)) / y).cast("long")).otherwise(
        F.lit(0).cast("long")
    )


def jaccard_ppm_sql(ua: str, ub: str) -> str:
    """DuckDB twin over two DISTINCT token lists (inclusion-exclusion
    union)."""
    inter = f"CAST(len(list_intersect({ua}, {ub})) AS BIGINT)"
    union = f"(CAST(len({ua}) AS BIGINT) + CAST(len({ub}) AS BIGINT) - {inter})"
    return (
        f"CASE WHEN {union} > 0 THEN"
        f" (2 * {inter} * 1000000 + {union}) // (2 * {union})"
        f" ELSE 0 END"
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    tokens_col: str = "tokens",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    use_arrow: bool | None = None,
) -> DataFrame:
    """LSH candidates verified by true Jaccard >= threshold. Returns
    (id_a, id_b, jaccard). The verify join is two broadcast-able semi
    lookups of tokens back onto the (much smaller) candidate set.

    The candidate set is orders of magnitude larger than the corpus
    (every banding collision), so per-pair work is the hot loop:
    ``array_distinct`` runs once per DOCUMENT before the join, and the
    pair stage computes a single ``array_intersect`` — ``|union|`` is
    derived arithmetically (|A| + |B| - |I|, exact for sets; the same
    inclusion-exclusion the DuckDB twin ``jaccard_ppm_sql`` uses) and
    both the double jaccard and the exact-ppm output share the two
    counts. One array op per pair instead of eight."""
    cands = minhash_lsh_candidates(
        df, id_col, tokens_col, num_hashes, bands, use_arrow=use_arrow
    )
    # Pin the verify joins' width: AQE coalesces by the CANDIDATE set's
    # shuffle bytes (two ids/row — tiny), but each joined row then pays
    # an array_intersect over two full token sets, so the real work per
    # row is ~100x the keyed bytes. Measured on the 50k-doc zipf corpus:
    # AQE coalesced this join to 4 tasks on 32 cores — an 8x parallelism
    # loss on the recipe's hottest stage. A USER-keyed repartition before
    # each join survives AQE (user-specified distributions are never
    # coalesced) and costs only an exchange of data that had to shuffle
    # for the join anyway.
    npart = _join_width(df.sparkSession)
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.col(tokens_col)).alias("__t"),
    )
    paired = (
        cands.repartition(npart, F.col("id_a"))
        .join(toks.withColumnRenamed("__id", "id_a").withColumnRenamed("__t", "ta"), "id_a")
        .repartition(npart, F.col("id_b"))
        .join(toks.withColumnRenamed("__id", "id_b").withColumnRenamed("__t", "tb"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb"))).cast("long")
    union = F.size("ta").cast("long") + F.size("tb").cast("long") - inter
    # filter on the RAW jaccard (rounding is output-only — a rounded filter
    # would disagree with the oracle at the threshold boundary)
    raw_j = F.when(
        union > 0, inter.cast("double") / union.cast("double")
    ).otherwise(F.lit(0.0))
    x = inter * F.lit(2_000_000) + union
    y = F.lit(2) * union
    ppm = F.when(union > 0, ((x - F.pmod(x, y)) / y).cast("long")).otherwise(
        F.lit(0).cast("long")
    )
    return (
        paired.select("id_a", "id_b", raw_j.alias("__j"), ppm.alias("jaccard_ppm"))
        .filter(F.col("__j") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round("__j", 6).alias("jaccard"),
            "jaccard_ppm",
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash16(tokens: Column) -> Column:
    """16-bit SimHash over token multiset: bit j set iff the sum over
    tokens of (2*bit_j(h(t)) - 1) is >= 0. Pure integer arithmetic.
    NULL elements are skipped (DuckDB's list_sum null-skips, so a NULL
    contributing to Spark's fold would poison the balance to NULL and
    zero every bit — found by tests/test_oracle_fuzz.py; same contract
    as minhash_signature and the _minhash16_impl Arrow kernel)."""
    toks = F.filter(tokens, lambda t: t.isNotNull())
    h = lambda t: (t.cast("long") * SIMHASH_A + SIMHASH_B) % SIMHASH_P  # noqa: E731

    def bit_balance(j: int):
        # closure factory: PySpark inspects lambda arity, so defaults like
        # `_j=j` would be miscounted as a third lambda parameter
        return lambda acc, t: acc + (F.floor(h(t) / (2**j)) % 2) * 2 - 1

    out = F.lit(0).cast("long")
    for j in range(16):
        # coalesce: a NULL tokens column yields bal NULL; the twin's
        # COALESCE(list_sum(...), 0) pins NULL/empty evidence to bal=0
        # (all bits set) — match it
        bal = F.coalesce(
            F.aggregate(toks, F.lit(0).cast("long"), bit_balance(j)),
            F.lit(0).cast("long"),
        )
        out = out + F.when(bal >= 0, F.lit(2**j)).otherwise(F.lit(0))
    return out


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    max_hamming: int = 2,
) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole LSH: split the 16-bit
    signature into (max_hamming + 1) bands — any pair within Hamming
    distance <= d must agree EXACTLY on at least one band — equi-join on
    (band_idx, band_value), verify candidates by true bit_count(xor).
    Returns (id_a, id_b, hamming). The band join is the only shuffle and
    candidates are the only rows verified: never all-pairs."""
    n_bands = max_hamming + 1
    base_w = 16 // n_bands
    sh = df.select(
        F.col(id_col).alias("__id"), simhash16(F.col(tokens_col)).alias("__sh")
    )
    bands, off = [], 0
    for b in range(n_bands):
        w = base_w if b < n_bands - 1 else 16 - off
        bands.append(
            F.struct(
                F.lit(b).alias("b"),
                (F.shiftright("__sh", off).bitwiseAND(F.lit((1 << w) - 1))).alias(
                    "v"
                ),
            )
        )
        off += w
    e = sh.select("__id", "__sh", F.explode(F.array(*bands)).alias("__band"))
    a, bb = e.alias("a"), e.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__sh").alias("__sa"),
            F.col("b.__sh").alias("__sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).cast("int")
    return (
        cand.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash16_sql(tokens: str = "tokens") -> str:
    terms = []
    for j in range(16):
        bal = (
            f"COALESCE(list_sum(list_transform({tokens}, "
            f"t -> CAST(floor(((CAST(t AS BIGINT) * {SIMHASH_A} + {SIMHASH_B})"
            f" % {SIMHASH_P}) / {2**j}) AS BIGINT) % 2 * 2 - 1)), 0)"
        )
        terms.append(f"CASE WHEN {bal} >= 0 THEN {2**j} ELSE 0 END")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# ---------------------------------------------------------------------------
# n-gram shingles
# ---------------------------------------------------------------------------


def shingles3(tokens: Column) -> Column:
    """array<bigint> of packed 3-gram shingles (empty when n_tok < 3).
    Token ids must lie in [0, SHINGLE_BASE) — checked per row with one
    array_min/array_max pass (NULL elements are skipped by min/max and
    pack to NULL shingles, as before); an out-of-range id FAILS the job
    instead of silently aliasing distinct 3-grams."""
    n = F.size(tokens)
    ok = F.coalesce(
        (F.array_min(tokens) >= 0) & (F.array_max(tokens) < SHINGLE_BASE),
        F.lit(True),
    )
    idx = F.when(n >= 3, F.sequence(F.lit(0), n - 3)).otherwise(
        F.array().cast("array<int>")
    )
    packed = F.transform(
        idx,
        lambda i: (
            F.element_at(tokens, i + 1).cast("long") * (SHINGLE_BASE**2)
            + F.element_at(tokens, i + 2).cast("long") * SHINGLE_BASE
            + F.element_at(tokens, i + 3).cast("long")
        ),
    )
    return F.when(ok, packed).otherwise(
        F.raise_error(
            F.lit(f"shingles3: token id outside [0, {SHINGLE_BASE})")
        )
    )


def shingles3_sql(tokens: str = "tokens") -> str:
    return (
        f"CASE WHEN NOT COALESCE(list_min({tokens}) >= 0 "
        f"AND list_max({tokens}) < {SHINGLE_BASE}, TRUE) THEN "
        f"error('shingles3: token id outside [0, {SHINGLE_BASE})') "
        f"WHEN len({tokens}) >= 3 THEN "
        f"list_transform(range(len({tokens}) - 2), "
        f"i -> CAST({tokens}[i+1] AS BIGINT) * {SHINGLE_BASE**2}"
        f" + CAST({tokens}[i+2] AS BIGINT) * {SHINGLE_BASE}"
        f" + CAST({tokens}[i+3] AS BIGINT)) "
        f"ELSE [] END"
    )


def ngram_near_duplicates(
    df: DataFrame,
    id_col: str,
    tokens_col: str = "tokens",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dups on 3-gram shingle sets: MinHash-LSH over shingles,
    verified with shingle-set Jaccard.

    Prefer this over raw-token ``minhash_near_duplicates`` on skewed
    vocabularies: a Zipf head token appears in nearly every document,
    so the per-hash MINIMUM over raw token sets is usually achieved by
    the same few ids — signatures degenerate, band buckets go giant,
    and token-set Jaccard saturates (measured: 9.7M "near-dup" pairs
    at J>=0.8 across 100k unrelated zipf docs). 3-gram shingles are
    position-composed, so their hash minima spread and buckets stay
    discriminative — the GPT-3/Gopher-style n-gram dedup signal."""
    sh = df.select(F.col(id_col), shingles3(F.col(tokens_col)).alias("__sh"))
    return minhash_near_duplicates(
        sh, id_col, tokens_col="__sh", threshold=threshold,
        num_hashes=num_hashes, bands=bands,
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine similarity (interpreted-HOF form — zip_with/aggregate are
    CodegenFallback, so this costs ~3*dim interpreted ops per call).
    ``dim`` is accepted for signature stability and ignored: unrolling
    the fold into 3*dim scalar terms was tried and REJECTED — at dim=64
    the generated Java exceeds the compiler limits, codegen fails, and
    the giant tree interprets SLOWER than the HOF form. The vectorized
    scale path for cosine-heavy stages is the Arrow kernel tier instead
    (ivf_assign(use_arrow=True), semantic_dup_pairs(use_arrow=True):
    batch matmul per Arrow batch/cluster)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def embedding_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Brute-force within-corpus cosine near-dup pairs (the O(n^2) baseline;
    the LSH-bucketed scale path lives in operators/similarity.py)."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("__c", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("__c") >= threshold)
        .select("id_a", "id_b", F.round("__c", 6).alias("cos"))
    )


def embedding_lsh_candidates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    tables: int = 2,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing >=1 sign-LSH bucket across
    ``tables`` independent hash tables — table t hashes with the disjoint
    plane family [t*n_planes, (t+1)*n_planes). One explode + one equi-join
    on the band key, never all-pairs: candidates ~ n^2 / 2^n_planes per
    table instead of n^2/2. At production scale size n_planes ~ log2(n) so
    per-bucket occupancy stays bounded (e.g. 20 planes -> 1M buckets for
    10^9 vectors); recall at a given cosine is (1-theta/pi)^n_planes per
    table, recovered by adding tables."""
    from go_html_transform_spark.operators.similarity import lsh_bucket

    v = F.col(vec_col).cast("array<double>")
    keys = F.array(
        *[
            F.concat_ws(
                "-",
                F.lit(str(t)),
                lsh_bucket(v, n_planes, plane_offset=t * n_planes).cast("string"),
            )
            for t in range(tables)
        ]
    )
    banded = emb.select(F.col(id_col).alias("id"), F.explode(keys).alias("band"))
    other = banded.select(F.col("id").alias("id_b"), F.col("band"))
    return (
        banded.join(other, "band")
        .filter(F.col("id") < F.col("id_b"))
        .select(F.col("id").alias("id_a"), "id_b")
        .distinct()
    )


def embedding_lsh_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 6,
    tables: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs — the scale path twin of
    ``embedding_near_duplicates``: same verify predicate (true cosine >=
    threshold) but only over same-bucket candidates, so the O(n^2)
    cross-join never materializes. Approximate by design: a qualifying
    pair that collides in no table is missed (tests measure recall vs the
    brute-force baseline; the DuckDB oracle replicates the exact same
    candidate set, so the cross-engine check is exact)."""
    cands = embedding_lsh_candidates(emb, id_col, vec_col, n_planes, tables)
    vecs = emb.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    paired = cands.join(
        vecs.withColumnRenamed("__id", "id_a").withColumnRenamed("__v", "va"), "id_a"
    ).join(
        vecs.withColumnRenamed("__id", "id_b").withColumnRenamed("__v", "vb"), "id_b"
    )
    # filter on the RAW cosine (rounding is output-only, matching the oracle)
    return (
        paired.withColumn("__c", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("__c") >= threshold)
        .select("id_a", "id_b", F.round("__c", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# near-duplicate clusters: pairs -> connected components -> keep-canonical
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 30,
    rounds: list[int] | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in the pair list, where
    component = min node id in its connected component — hash-min label
    propagation with pointer jumping: every node starts labelled with
    itself; each round a node takes the min label among itself and its
    neighbours, then jumps through its new label's PREVIOUS-round label
    (component := min(component, label-of(component))). The jump roughly
    doubles how far the cluster minimum has propagated each round, so
    rounds needed = O(log diameter) instead of O(diameter) — a chain of
    1000 near-identical docs (templated boilerplate, the adversarial
    shape for near-dup graphs) converges in ~10 rounds, not 1000
    (capped by max_iters with a loud failure rather than a silent wrong
    answer; 30 rounds covers diameter ~2^30).

    Scale shape: one edge-to-label equi-join + one groupBy-min + one
    label-to-label equi-join per round over the PAIR set (orders of
    magnitude smaller than the corpus); labels persist round-to-round,
    both joins read only MATERIALIZED frames (no recompute), and
    convergence is read from an Observation on the same job that
    materializes the round — no extra comparison join, no driver-side
    graph materialization ever. If ``rounds`` is passed, the per-round
    changed-label counts are appended to it (len == rounds executed —
    the O(log diameter) bound is pinned by a 1k-node-chain test)."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist()
    )
    # localCheckpoint (not persist): each round's plan would otherwise
    # NEST every previous round's joins — lineage grows exponentially and
    # the planner itself OOMs after ~10 rounds. Checkpointing truncates
    # the logical plan to the materialized result, keeping per-round
    # planning cost constant (the standard iterative-algorithm discipline
    # on Spark).
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels["node"] == neighbor_min["src"], "left"
        ).select(
            "node",
            F.col("component").alias("__old"),
            F.least(
                F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
            ).alias("__mid"),
        )
        # pointer jump through the PREVIOUS round's (materialized) labels:
        # every label value is itself a node id present in `labels`, so
        # the left join always hits; jumping via the old table keeps each
        # round a single pass over materialized inputs.
        parents = labels.select(
            F.col("node").alias("__p_node"), F.col("component").alias("__p_comp")
        )
        obs = Observation()
        new_labels = (
            stepped.join(parents, stepped["__mid"] == parents["__p_node"], "left")
            .select(
                "node",
                "__old",
                F.least(
                    F.col("__mid"), F.coalesce(F.col("__p_comp"), F.col("__mid"))
                ).alias("component"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("component") != F.col("__old")).cast("long")
                ).alias("changed"),
            )
            .select("node", "component")
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        if rounds is not None:
            rounds.append(int(obs.get["changed"]))
        if not obs.get["changed"]:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(component diameter exceeds the cap) — raise max_iters"
        )
    edges.unpersist()
    return labels


def near_dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    components: DataFrame | None = None,
) -> DataFrame:
    """Drop every near-duplicate except the canonical (min-id) member of
    its cluster: the terminal step of the near-dedup pipeline
    (signatures -> LSH candidate pairs -> verified pairs -> components ->
    keep one). Rows never mentioned in `pairs` pass through untouched —
    the component join is an anti-join against the (small) non-canonical
    node set, so the corpus is scanned once and never shuffled on its
    payload. Pass ``components`` (a (node, component) frame from
    ``connected_components``) when the caller already ran the iterative
    labelling — it is the expensive half, and rerunning it here would
    double the label-propagation rounds."""
    comp = (
        components
        if components is not None
        else connected_components(pairs, id_a, id_b)
    )
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("__loser")
    )
    return df.join(
        losers, df[id_col] == losers["__loser"], "left_anti"
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-dedup semantic deduplication
# ---------------------------------------------------------------------------


SEM_MAX_CELL = 8192  # Arrow-tier per-task cell bound (rows)


def semantic_dup_pairs(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = False,
    max_cell: int | None = SEM_MAX_CELL,
) -> DataFrame:
    """SemDeDup candidate stage (Abbas et al. 2023, arXiv:2303.09540):
    k-means-cluster the embedding space, then compare pairs ONLY within a
    cluster — semantically unrelated vectors never meet, so the global
    O(n^2) cross-join of ``embedding_near_duplicates`` collapses to
    sum_c |c|^2. Returns (cid, id_a, id_b, cos) for every within-cluster
    pair with raw cosine >= threshold (id_a < id_b; cos rounded output-
    only).

    Scale shape: the assignment is the zero-shuffle ``ivf_assign`` map
    pass; the only exchange is keyed on centroid_id. Per-cluster work is
    quadratic in cluster size, so k is the first knob: pick
    k ~ n/target_cluster_size (the paper runs k=50k over 5B docs) and
    the Lloyd-trained codebook (``similarity.ivf_trained_centroids``)
    keeps clusters balanced. Seeded centroids stay the DuckDB-oracle
    anchor (assignment reproducible cross-engine).

    ``use_arrow=True`` is the SCALE path for the pair stage: one
    ``applyInPandas`` task per cell computing the pair cosines as a
    blocked numpy matmul instead of the self-join — the join
    materializes sum_c |c|^2 candidate ROWS each carrying two full
    vectors (the measured bottleneck: ~1 KB/candidate at dim=64, row
    materialization dominating, not arithmetic), while the kernel ships
    each vector ONCE per cell and the c x c cosine block is BLAS.
    Same pair set and same rounded cos up to float summation order
    (matmul vs sequential fold — parity-pinned with tolerance in
    tests); the expression form stays the default because the DuckDB
    oracle replays ITS fold order bit-exactly.

    HOT-CELL GUARD (Arrow tier; ``max_cell``, default 8192): a skewed
    codebook can leave one giant cluster — a Zipf hashed-BoW corpus
    measurably concentrates in a hot-token direction — and an
    applyInPandas cell is ONE task, so at 10^12 rows a 10^9-row cell
    serializes the job no matter how fast the BLAS is. Cells over
    ``max_cell`` rows are tiled EXACTLY (``_tile_cells``): sliced by
    id-hash into ceil(c/max_cell) slices, every unordered slice pair its
    own task. Each within-cell pair lands in exactly one tile, so the
    pair set is the unguarded one; per-task input is ~2*max_cell rows
    and the irreducible c^2 block (a direction of near-identical
    vectors has quadratic pair OUTPUT) spreads over (c/max_cell)^2
    parallel tasks instead of one. Cells at or under ``max_cell`` (every
    cell of the oracle fixtures) stay one task each. The tiling is lazy
    and its plan does not grow with the number of hot cells: building
    this frame runs no Spark job; executing it adds one per-cluster
    count (k rows, broadcast back). ``max_cell=None`` drops the count
    and leaves every cell one task. The expression/join form needs no
    guard: its per-cluster equi-join shuffle is AQE skew-splittable like
    any other skewed join."""
    from go_html_transform_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(
        emb, centroids, id_col, vec_col, out_col="cid", use_arrow=use_arrow
    ).select(
        "cid", F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    if use_arrow:
        return _semantic_dup_pairs_arrow(_tile_cells(assigned, max_cell), threshold)
    a = assigned.select("cid", F.col("__id").alias("id_a"), F.col("__v").alias("va"))
    b = assigned.select(
        F.col("cid").alias("cid_b"), F.col("__id").alias("id_b"), F.col("__v").alias("vb")
    )
    pairs = a.join(
        b, (F.col("cid") == F.col("cid_b")) & (F.col("id_a") < F.col("id_b"))
    )
    return (
        pairs.withColumn("__c", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("__c") >= threshold)
        .select("cid", "id_a", "id_b", F.round("__c", 6).alias("cos"))
    )


def _tile_cells(cells: DataFrame, max_cell: int | None) -> DataFrame:
    """Exact tile decomposition of cells over ``max_cell`` rows, as one
    lazy plan of fixed size: one ``groupBy("cid").count()`` becomes a
    (cid, ns = ceil(n/max_cell)) frame of k rows, broadcast-joined back.
    Rows hash-slice on id into ``__sl = pmod(xxhash64(id), ns)`` and
    replicate into the ns tasks ``(__ti, __tj) = (least(__sl, t),
    greatest(__sl, t))``, t in [0, ns). Every within-cell pair (a, b)
    lands in EXACTLY one task — (min(sl_a, sl_b), max(sl_a, sl_b)) — so
    the union over tasks is the exact pair set; per-task input is
    ~2*max_cell rows and a hot cell's c^2 block runs as (c/max_cell)^2
    parallel tasks. Replicated volume for a hot cell is c*ns =
    c^2/max_cell rows, the order of its pair block's own row traffic.
    Cells within bound get ns = 1: slice 0, the one task (0, 0), no
    replication; ``max_cell=None`` gives every cell ns = 1 without the
    count."""
    if max_cell is None:
        ns = F.lit(1)
    else:
        sizes = cells.groupBy("cid").count().select(
            "cid", F.ceil(F.col("count") / F.lit(max_cell)).cast("int").alias("__ns")
        )
        cells = cells.join(F.broadcast(sizes), "cid")
        ns = F.col("__ns")
    sl = F.pmod(F.xxhash64(F.col("__id").cast("string")), ns).cast("int")
    return (
        cells.withColumn("__sl", sl)
        .withColumn("__t", F.explode(F.sequence(F.lit(0), ns - 1)))
        .select(
            "cid", "__id", "__v", "__sl",
            F.least("__sl", "__t").alias("__ti"),
            F.greatest("__sl", "__t").alias("__tj"),
        )
    )


def _semantic_dup_pairs_arrow(tiled: DataFrame, threshold: float) -> DataFrame:
    """Per-task pair cosines as a blocked numpy matmul. One Arrow
    batch per task ``(cid, __ti, __tj)`` (vectors ship once per task,
    not once per pair); the similarity block is computed in row-blocks
    so peak memory stays ~block x c doubles. Diagonal tasks (i == j)
    emit the upper triangle of their rows; off-diagonal tile tasks
    (i < j) emit the cross-block between their two slices only — the
    within-slice pairs belong to the diagonal tasks. Zero-norm
    vectors score 0.0 against everything (the ``cosine`` guard) and so
    never pass a positive threshold.

    Pair orientation parity: the join form orders ids with Spark's
    binary UTF8 comparison (``id_a < id_b``), so string ids here sort on
    their UTF-8 encoded BYTES — by construction the same ordering
    (UTF-8 is code-point order-preserving, so this also coincides with
    Python's default str comparison for well-formed strings; encoding
    makes the parity explicit instead of comparator-dependent, e.g.
    Java's UTF-16 code-unit order would NOT match). NULL ids are
    dropped up front: the join form's ``id_a < id_b`` predicate is NULL
    for them, so they never appear in a pair there either — and pandas
    cannot sort a None against strings anyway."""
    import numpy as np
    import pandas as pd

    id_type = tiled.schema["__id"].dataType.simpleString()
    out_schema = (
        f"cid int, id_a {id_type}, id_b {id_type}, cos double"
    )
    thr = float(threshold)
    BLOCK = 1024

    def _norm(V: "np.ndarray") -> "np.ndarray":
        norms = np.linalg.norm(V, axis=1)
        safe = np.where(norms == 0.0, 1.0, norms)
        Vn = V / safe[:, None]
        Vn[norms == 0.0] = 0.0
        return Vn

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf[pdf["__id"].notna()]
        n = len(pdf)
        empty = pd.DataFrame(
            {"cid": [], "id_a": [], "id_b": [], "cos": []}
        ).astype({"cid": "int32", "cos": "float64"})
        if n < 2:
            return empty
        # sort by id so emitted (row_i < row_j) pairs satisfy id_a < id_b
        # under the same ordering the join form uses: UTF-8 bytes for
        # strings (Spark's BinaryComparator), natural order otherwise
        key = (
            (lambda s: s.map(lambda x: x.encode("utf-8")))
            if pdf["__id"].dtype == object
            else None
        )
        pdf = pdf.sort_values(
            "__id", kind="mergesort", ignore_index=True, key=key
        )
        cid = int(pdf["cid"].iloc[0])
        ti, tj = int(pdf["__ti"].iloc[0]), int(pdf["__tj"].iloc[0])
        out_a, out_b, out_c = [], [], []
        if ti == tj:
            # diagonal task: upper triangle over all rows
            Vn = _norm(np.vstack(pdf["__v"].to_numpy()).astype("float64"))
            ids = pdf["__id"].to_numpy()
            for lo in range(0, n, BLOCK):
                hi = min(lo + BLOCK, n)
                C = Vn[lo:hi] @ Vn.T  # (hi-lo) x n
                for r in range(lo, hi):
                    row = C[r - lo, r + 1 :]
                    m = np.nonzero(row >= thr)[0]
                    if len(m):
                        out_a.append(np.full(len(m), ids[r]))
                        out_b.append(ids[r + 1 + m])
                        out_c.append(row[m])
        else:
            # off-diagonal tile: cross-block between the two slices only
            A = pdf[pdf["__sl"] == ti]
            B = pdf[pdf["__sl"] == tj]
            if not len(A) or not len(B):
                return empty
            Va = _norm(np.vstack(A["__v"].to_numpy()).astype("float64"))
            Vb = _norm(np.vstack(B["__v"].to_numpy()).astype("float64"))
            ids_a = A["__id"].to_numpy()
            ids_b = B["__id"].to_numpy()
            for lo in range(0, len(A), BLOCK):
                hi = min(lo + BLOCK, len(A))
                C = Va[lo:hi] @ Vb.T  # (hi-lo) x |B|
                ri, ci = np.nonzero(C >= thr)
                if not len(ri):
                    continue
                a = ids_a[lo + ri]
                b = ids_b[ci]
                # orient each cross pair by the join form's id order
                if a.dtype == object:
                    enc_a = np.array([x.encode("utf-8") for x in a], dtype=object)
                    enc_b = np.array([x.encode("utf-8") for x in b], dtype=object)
                    swap = enc_a > enc_b
                    keep = enc_a != enc_b
                else:
                    swap = a > b
                    keep = a != b
                lo_id = np.where(swap, b, a)[keep]
                hi_id = np.where(swap, a, b)[keep]
                if len(lo_id):
                    out_a.append(lo_id)
                    out_b.append(hi_id)
                    out_c.append(C[ri, ci][keep])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "cid": np.int32(cid),
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos": np.round(np.concatenate(out_c), 6),
            }
        )

    return tiled.groupBy("cid", "__ti", "__tj").applyInPandas(fn, out_schema)


def semantic_dedup_keep(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = False,
    max_cell: int | None = SEM_MAX_CELL,
) -> DataFrame:
    """SemDeDup keep-set: drop a vector iff a SMALLER-ID vector in its
    cluster sits within the cosine threshold (greedy-by-id canonical
    rule — deterministic, order-free, and exactly the anti-join of
    ``semantic_dup_pairs``'s id_b side; the paper's keep-farthest-from-
    centroid rule is one ORDER BY swap on the same machinery). Returns
    the surviving rows with their cluster id and cosine-to-own-centroid
    (the paper's ranking signal, rounded output-only).

    The corpus frame is scanned once; the only exchanges are the
    cluster-keyed pair join (bounded as in ``semantic_dup_pairs``) and a
    broadcast-sized anti-join on the loser id set."""
    from go_html_transform_spark.operators.similarity import _centroid_of, ivf_assign

    losers = (
        semantic_dup_pairs(
            emb, centroids, threshold, id_col, vec_col, use_arrow,
            max_cell=max_cell,
        )
        .select(F.col("id_b").alias("__loser"))
        .distinct()
    )
    assigned = ivf_assign(emb, centroids, id_col, vec_col, out_col="cid")
    kept = assigned.join(
        losers, assigned[id_col] == losers["__loser"], "left_anti"
    )
    return kept.select(
        F.col(id_col),
        "cid",
        F.round(
            cosine(
                F.col(vec_col).cast("array<double>"),
                _centroid_of(centroids, F.col("cid")),
            ),
            6,
        ).alias("cos_centroid"),
    )
