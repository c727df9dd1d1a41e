"""Deduplication operators for the large-scale training-data pipeline:
exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 10^12 rows:

* exact: hash-groupBy on a canonical key — one shuffle, map-side partial.
* MinHash+LSH: signatures are one vectorized Arrow pass per batch (no
  shuffle); banding turns near-dup detection into an equi-join on
  (band_id, band_key) — candidates only, verified by true Jaccard.
  Every all-pairs-within-a-key step here (LSH band buckets and SemDeDup
  cells) runs through one exact tiling, ``_tiles`` (the band joins then
  ``_tile_join``; ``_pairs`` composes the two): a key over
  ``MAX_TILE_ROWS`` rows is split into bounded tasks that together yield
  exactly its pairs, so an identical-band group no longer runs as one
  task.
* SimHash: 16-bit signature via pure bit arithmetic; Hamming-adjacent
  buckets join.
* n-gram Jaccard: shingles packed into int64 (t0<<20|t1<<10|t2), same
  LSH machinery.

Hash families are small-integer affine (a*t + b) mod P with constants
fixed below — expressible identically in DuckDB for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from go_html_transform_spark.functions.kernels import minhash_kernel

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
# rows of one key in one tile slice: bounds every within-key pair task
# (``_tiles``) at 2 * MAX_TILE_ROWS rows
MAX_TILE_ROWS = 8192


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
    """array<bigint> of per-hash minima over the DISTINCT token set, NULL
    elements skipped (``_h`` for hash i); an empty or NULL set gets the
    sentinel P in every slot (it never collides with a real minimum).
    One vectorized Arrow pass per batch for every width
    (functions/kernels.py); ``minhash_signature_sql`` is its DuckDB
    twin."""
    return pandas_udf(minhash_kernel(num_hashes), ArrayType(LongType()))(tokens)


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


def _minhash_bands(
    df: DataFrame,
    id_col: str,
    tokens_col: str = "tokens",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The band step of MinHash-LSH: (__id, band), one row per document
    and band, the signature evaluated on the way."""
    sig = minhash_signature(F.col(tokens_col), num_hashes)
    return df.select(
        F.col(id_col).alias("__id"),
        F.explode(lsh_bands(sig, bands, num_hashes // bands)).alias("band"),
    )


def _band_tiles(banded: DataFrame) -> DataFrame:
    """The tiling of an (__id, band) frame for the band self-join."""
    return _tiles(banded, "band", MAX_TILE_ROWS)


def _band_candidates(tiled: DataFrame) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b, of the rows of a
    ``_band_tiles`` frame that share a band: the band self-join
    (``_tile_join``)."""
    return _tile_join(tiled, "band").select("id_a", "id_b").distinct()


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    tokens_col: str = "tokens",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >=1 LSH band.
    One explode + one tiled equi-join self-join on the band key.

    Candidates are exact: a bucket shared by m docs contributes all its
    m^2/2 pairs. On skewed vocabularies raw-token signatures degenerate
    into such buckets; ``_pairs`` splits a bucket over ``MAX_TILE_ROWS``
    rows into tasks of at most twice that many rows, so it no longer runs
    as one task, and shingle signatures (``ngram_near_duplicates``) keep
    buckets discriminative in the first place (BENCH/OPS.md, round-5
    prepare table).

    The band frame is not cached here: the caller owns any cache of its
    input. Over a persisted ``df`` Spark plans the band self-join with
    no ``ReusedExchange``, so each side evaluates the signature and the
    tiling again; a caller that reads a persisted frame composes
    ``_minhash_bands``, ``_band_tiles``, its own persist of the tiled
    frame, and ``_band_candidates``, as ``prepare_training_corpus``
    does."""
    banded = _minhash_bands(df, id_col, tokens_col, num_hashes, bands)
    return _band_candidates(_band_tiles(banded))


def _join_width(spark) -> int:
    """Width of the user-keyed repartitions before the tiled pair joins
    and the verify joins: the session's shuffle width or twice its
    default parallelism, whichever is larger."""
    return max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        2 * spark.sparkContext.defaultParallelism,
    )


def _tiles(frame: DataFrame, key: str, bound: int | None) -> DataFrame:
    """Exact tile decomposition of ``frame`` (columns ``key``, ``__id``
    and payload) for all-pairs-within-a-key work, as one lazy plan of
    fixed size. On the exchange ``repartition(width, key)``, one window
    over the key ordered by id gives each key its row count n and each
    row its rank r: ns = ceil(n / bound) slices, ``__sl = (r - 1) mod
    ns``, so no slice holds more than ``bound`` rows. Each row goes to
    the ns tasks ``(__ti, __tj) = (least(__sl, t), greatest(__sl, t))``,
    t in [0, ns), and the frame ends on ``repartition(width, key, __ti,
    __tj)``, so a hot key's tasks run apart. Every within-key pair
    shares EXACTLY one task, (min(sl_a, sl_b), max(sl_a, sl_b)); a task
    holds at most 2 * bound rows, a hot key's c^2 block runs as
    ~(c / bound)^2 tasks, and its replicated volume c * ns is the order
    of its pair block's own traffic. A key within bound is one task,
    (0, 0), unreplicated. ``bound=None`` puts every row in task (0, 0)
    with no window and no exchange, leaving the shuffle to AQE.

    Both exchanges are USER-keyed at ``_join_width``: the rows are small
    (an id and a key), so AQE would coalesce an automatic shuffle to a
    handful of tasks while the join OUTPUT is the pair explosion; a
    user-specified distribution is never coalesced, and the pair join
    ``_tile_join`` (or a grouping) on (key, __ti, __tj) reads the second
    exchange without one of its own."""
    if bound is None:
        return frame.withColumns({c: F.lit(0) for c in ("__sl", "__ti", "__tj")})
    width = _join_width(frame.sparkSession)
    by_id = Window.partitionBy(key).orderBy("__id")
    whole = by_id.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ns = F.col("__ns")
    return (
        frame.repartition(width, key)
        .select(
            "*",
            F.ceil(F.count(F.lit(1)).over(whole) / F.lit(bound)).cast("int").alias("__ns"),
            F.row_number().over(by_id).alias("__rn"),
        )
        .withColumn("__sl", ((F.col("__rn") - 1) % ns).cast("int"))
        .withColumn("__t", F.explode(F.sequence(F.lit(0), ns - 1)))
        .withColumn("__ti", F.least("__sl", "__t"))
        .withColumn("__tj", F.greatest("__sl", "__t"))
        .drop("__t", "__ns", "__rn")
        .repartition(width, key, "__ti", "__tj")
    )


def _tile_join(tiled: DataFrame, key: str, payload: tuple[str, ...] = ()) -> DataFrame:
    """Every pair of rows of a ``_tiles`` frame that share ``key``, as
    (key, id_a, id_b, <p>_a, <p>_b for each payload column p), id_a <
    id_b: one self-join on (key, __ti, __tj) and b's slice = a's
    partner slice ``__ti + __tj - a.__sl`` (a's own slice in a diagonal
    task, the other slice in an off-diagonal one), so each task forms
    only the pairs it owns, even when a caller's filter is pushed into
    the join. The pair set is that of the plain equi-join on ``key``.
    A caller that pins the tiled frame runs the tiling once for both
    sides of the join."""
    a, b = tiled.alias("a"), tiled.alias("b")
    on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in (key, "__ti", "__tj")] + [
        F.col("b.__sl") == F.col("a.__ti") + F.col("a.__tj") - F.col("a.__sl"),
        F.col("a.__id") < F.col("b.__id"),
    ]
    return a.join(b, on).select(
        F.col(f"a.{key}").alias(key),
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        *[F.col(f"{s}.{p}").alias(f"{p}_{s}") for p in payload for s in ("a", "b")],
    )


def _pairs(
    frame: DataFrame, key: str, bound: int | None, payload: tuple[str, ...] = ()
) -> DataFrame:
    """``_tile_join(_tiles(frame, key, bound), key, payload)``: every
    pair of rows of ``frame`` that share ``key``, tiled at ``bound``."""
    return _tile_join(_tiles(frame, key, bound), key, payload)


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
    counts. One array op per pair instead of eight.

    The steps are ``_token_sets`` (read by the band step and by both
    verify joins), ``_minhash_bands``, ``_band_tiles``,
    ``_band_candidates`` and ``_jaccard_verify``; nothing is cached
    here, and ``prepare_training_corpus`` composes them with the token
    sets and the tiled bands persisted."""
    sets = _token_sets(df, id_col, F.col(tokens_col))
    banded = _minhash_bands(sets, "__id", "__t", num_hashes, bands)
    return _jaccard_verify(_band_candidates(_band_tiles(banded)), sets, threshold)


def _token_sets(df: DataFrame, id_col: str, tokens: Column) -> DataFrame:
    """(__id, __t): each document's distinct token set. MinHash over
    the set equals MinHash over the multiset, so one frame feeds the
    band step and the verify joins."""
    return df.select(F.col(id_col).alias("__id"), F.array_distinct(tokens).alias("__t"))


def _jaccard_verify(cands: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """The verify step of ``minhash_near_duplicates``: the candidate
    pairs ``cands`` (id_a, id_b) joined to their token sets in ``sets``
    (a ``_token_sets`` frame) and kept at raw Jaccard >= threshold."""
    # Pin the verify joins' width: AQE coalesces by the CANDIDATE set's
    # shuffle bytes (two ids/row — tiny), but each joined row then pays
    # an array_intersect over two full token sets, so the real work per
    # row is ~100x the keyed bytes. Measured on the 50k-doc zipf corpus:
    # AQE coalesced this join to 4 tasks on 32 cores — an 8x parallelism
    # loss on the recipe's hottest stage. A USER-keyed repartition before
    # each join survives AQE (user-specified distributions are never
    # coalesced) and costs only an exchange of data that had to shuffle
    # for the join anyway.
    npart = _join_width(sets.sparkSession)

    def side(i: str, t: str) -> DataFrame:
        return sets.select(F.col("__id").alias(i), F.col("__t").alias(t))

    paired = (
        cands.repartition(npart, F.col("id_a"))
        .join(side("id_a", "ta"), "id_a")
        .repartition(npart, F.col("id_b"))
        .join(side("id_b", "tb"), "id_b")
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
    as minhash_signature)."""
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
    cand = (
        _pairs(e, "__band", MAX_TILE_ROWS, ("__sh",))
        .select("id_a", "id_b", F.col("__sh_a").alias("__sa"), F.col("__sh_b").alias("__sb"))
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


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity as a Column expression (zip_with/aggregate
    folds, interpreted: ~3*dim ops per call). It scores pairs whose
    vectors already sit in the row after a join or a broadcast: the
    rescores of ``cosine_topk`` and ``lsh_topk_batch`` and the verify
    of ``embedding_near_duplicates`` and
    ``embedding_lsh_near_duplicates``. The cosine-heavy passes (the IVF
    assignment and the SemDeDup pairs) run the vectorized kernel of
    operators/similarity.py instead, whose scores are this fold's bit
    for bit (``similarity.fold_cosine``)."""
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
    10^9 vectors), and a bucket over ``MAX_TILE_ROWS`` rows is tiled
    exactly (``_pairs``). Recall at a given cosine is
    (1-theta/pi)^n_planes per table, recovered by adding tables."""
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
    banded = emb.select(F.col(id_col).alias("__id"), F.explode(keys).alias("band"))
    return _band_candidates(_band_tiles(banded))


def embedding_lsh_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 6,
    tables: int = 2,
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
    propagation with pointer jumping. The initial labels are the first
    hash-min step, read off the symmetric edge list: each node starts
    labelled min(itself, its neighbours). Each round a node takes the
    min label among itself and its neighbours, then jumps through its
    new label's PREVIOUS-round label (component := min(component,
    label-of(component))). The jump roughly doubles how far the cluster
    minimum has propagated each round, so rounds needed = O(log
    diameter) instead of O(diameter) — a chain of 1000 near-identical
    docs (templated boilerplate, the adversarial shape for near-dup
    graphs) converges in ~10 rounds, not 1000 (capped by max_iters with
    a loud failure rather than a silent wrong answer; 30 rounds covers
    diameter ~2^30).

    Degree fixpoint: the initialising aggregation also counts each
    node's neighbours, and an Observation on the same job reads the
    largest count. When no node has two neighbours, every component is
    one edge (or a self-loop) and its initial labels are final, so no
    round runs and ``rounds`` stays empty; an empty pair list observes
    no count and runs no round either. Any node of degree >= 2 runs the
    loop below until a round changes nothing.

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
    degree = Observation()
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("__nmin"), F.count(F.lit(1)).alias("__deg"))
        .observe(degree, F.max("__deg").alias("max_deg"))
        .select("node", F.least("node", "__nmin").alias("component"))
        .localCheckpoint(eager=True)
    )
    changed = (degree.get["max_deg"] or 0) > 1
    for _ in range(max_iters):
        if not changed:
            break
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
        changed = obs.get["changed"]
        if rounds is not None:
            rounds.append(changed)
    if changed:
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


def semantic_dup_pairs(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = MAX_TILE_ROWS,
) -> DataFrame:
    """SemDeDup candidate stage (Abbas et al. 2023, arXiv:2303.09540):
    k-means-cluster the embedding space, then compare pairs ONLY within a
    cluster — semantically unrelated vectors never meet, so the global
    O(n^2) cross-join of ``embedding_near_duplicates`` collapses to
    sum_c |c|^2. Returns (cid, id_a, id_b, cos) for every within-cluster
    pair with raw cosine >= threshold (id_a < id_b; cos rounded output-
    only).

    Scale shape: the assignment is the zero-shuffle ``ivf_assign`` map
    pass; the pairs come from one ``applyInPandas`` task per tile of a
    cell (``_tiles``), which ships each vector once per task and scores
    the task's block with the cosine kernel of operators/similarity.py:
    a blocked matmul keeps the pairs within a slack of the threshold,
    and the exact fold rescoring them decides, so the pair set and the
    cosines are those of ``cosine()`` and of the DuckDB twin. A pair
    join would instead materialize sum_c |c|^2 rows carrying two full
    vectors each. Per-cluster work is quadratic in cluster size, so k
    is the first knob: pick k ~ n/target_cluster_size (the paper runs
    k=50k over 5B docs) and the Lloyd-trained codebook
    (``similarity.ivf_trained_centroids``) keeps clusters balanced.

    HOT-CELL GUARD (``max_cell``, default ``MAX_TILE_ROWS`` = 8192): a
    skewed codebook can leave one giant cluster — a Zipf hashed-BoW
    corpus measurably concentrates in a hot-token direction — and one
    cell's pairs in one task serialize the job at 10^12 rows no matter
    how fast the BLAS is. Cells over ``max_cell`` rows are tiled EXACTLY
    (``_tiles``): cut into ceil(c/max_cell) slices of at most
    ``max_cell`` rows, every unordered slice pair its own task. Each
    within-cell pair lands in exactly one tile, so the pair set is the
    unguarded one; per-task input is at most 2*max_cell rows and the
    irreducible c^2 block (a direction of near-identical vectors has
    quadratic pair OUTPUT) spreads over ~(c/max_cell)^2 parallel tasks
    instead of one. Cells at or under ``max_cell`` (every cell of the
    oracle fixtures) stay one task each. The tiling is lazy and its plan
    does not grow with the number of hot cells: building this frame
    runs no Spark job, and the cell sizes come from a window on the
    cell-keyed exchange itself, so the assignment runs once per
    execution. ``max_cell=None`` drops the window and its exchanges and
    leaves every cell one task."""
    from go_html_transform_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(emb, centroids, id_col, vec_col, out_col="cid").select(
        "cid", F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    pairs = _semantic_pair_tasks(_tiles(assigned, "cid", max_cell), threshold)
    return pairs.withColumn("cos", F.round("cos", 6))


def _semantic_pair_tasks(tiled: DataFrame, threshold: float) -> DataFrame:
    """(cid, id_a, id_b, raw cos) of one ``applyInPandas`` task per
    ``(cid, __ti, __tj)``: ``similarity._cosine_pairs`` between the
    task's slices ``__ti`` and ``__tj``. A diagonal task (i == j) pairs
    its one slice with itself and keeps the upper triangle; an
    off-diagonal task (i < j) keeps the whole cross-block — the
    within-slice pairs belong to the diagonal tasks.

    Pair orientation: ``id_a < id_b`` as Spark compares the ids, so
    string ids compare as their UTF-8 encoded BYTES (Spark's binary
    UTF8 order; UTF-8 is code-point order-preserving, so this also
    coincides with Python's str order for well-formed strings, but
    Java's UTF-16 code-unit order would NOT match); equal ids never
    pair. NULL ids are dropped up front: ``id_a < id_b`` is NULL for
    them."""
    import numpy as np
    import pandas as pd

    from go_html_transform_spark.operators.similarity import _block, _cosine_pairs

    id_type = tiled.schema["__id"].dataType.simpleString()
    out_schema = f"cid int, id_a {id_type}, id_b {id_type}, cos double"
    thr = float(threshold)

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        cid, ti, tj = (int(pdf[c].iloc[0]) for c in ("cid", "__ti", "__tj"))
        pdf = pdf[pdf["__id"].notna()]
        A, B = pdf[pdf["__sl"] == ti], pdf[pdf["__sl"] == tj]
        d = max((len(v) for v in pdf["__v"] if v is not None), default=0)
        Va = _block(A["__v"], d)
        i, j, cos = _cosine_pairs(Va, Va if ti == tj else _block(B["__v"], d), thr, ti == tj)
        a, b = A["__id"].to_numpy()[i], B["__id"].to_numpy()[j]
        if a.dtype == object:
            ka = np.array([x.encode("utf-8") for x in a], dtype=object)
            kb = np.array([x.encode("utf-8") for x in b], dtype=object)
        else:
            ka, kb = a, b
        swap, keep = ka > kb, ka != kb
        return pd.DataFrame(
            {
                "cid": np.full(int(keep.sum()), cid, np.int32),
                "id_a": np.where(swap, b, a)[keep],
                "id_b": np.where(swap, a, b)[keep],
                "cos": cos[keep],
            }
        )

    return tiled.groupBy("cid", "__ti", "__tj").applyInPandas(fn, out_schema)


def semantic_dedup_keep(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = MAX_TILE_ROWS,
) -> DataFrame:
    """SemDeDup keep-set: drop a vector iff a SMALLER-ID vector in its
    cluster sits within the cosine threshold (greedy-by-id canonical
    rule — deterministic, order-free, and exactly the anti-join of
    ``semantic_dup_pairs``'s id_b side; the paper's keep-farthest-from-
    centroid rule is one ORDER BY swap on the same machinery). Returns
    the surviving rows with their cluster id and cosine-to-own-centroid
    (the paper's ranking signal, rounded output-only), both read off the
    one assignment pass.

    The corpus frame is scanned once; the only exchanges are the
    cell-keyed pair tasks (bounded as in ``semantic_dup_pairs``) and a
    broadcast-sized anti-join on the loser id set."""
    from go_html_transform_spark.operators.similarity import _assign

    losers = (
        semantic_dup_pairs(emb, centroids, threshold, id_col, vec_col, max_cell)
        .select(F.col("id_b").alias("__loser"))
        .distinct()
    )
    assigned = emb.withColumn(
        "__a", _assign(F.col(vec_col).cast("array<double>"), centroids)
    )
    kept = assigned.join(
        losers, assigned[id_col] == losers["__loser"], "left_anti"
    )
    return kept.select(
        F.col(id_col),
        F.col("__a.cid").alias("cid"),
        F.round("__a.cos", 6).alias("cos_centroid"),
    )
