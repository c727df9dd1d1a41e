"""Approximate-nearest-neighbor search over embedding columns
(array<float>). Every search path ends in the exact brute-force rescore.

* Brute force: ``cosine_topk`` broadcasts one literal query vector over
  the corpus and takes a global top-k. No shuffle, no full sort.
* Sign-LSH: ``lsh_bucket``, ``lsh_topk`` and ``lsh_topk_batch``. Eight
  deterministic hyperplanes make 256 buckets. A query probes its own
  bucket, and with multiprobe also its Hamming-1 neighbours.
* IVF: ``ivf_centroids``, ``ivf_assign`` and ``ivf_topk``. A literal
  coarse codebook, a zero-shuffle argmax-cosine assignment, and a probe
  of the nprobe nearest clusters. ``ivf_write_index`` and
  ``ivf_topk_indexed`` are the same index at rest, pruned by file.
* PQ: ``pq_codebooks``, ``pq_encode`` and ``pq_adc_topk``. Per-subspace
  argmin-L2 codes are packed into 16 bits and scanned by ADC.
* IVF-PQ: ``ivfpq_encode`` and ``ivfpq_topk``. PQ codes of the residual
  to the assigned centroid, with one ADC table per probed cluster.
* Trained codebooks: ``ivf_trained_centroids``, ``pq_train_codebooks``
  and ``ivfpq_encode_trained``. k-means++ on a hashed sample, then exact
  distributed Lloyd passes. The low-id seeded codebooks
  (``ivf_centroids``, ``ivf_lloyd_centroids``, ``pq_codebooks``) stay as
  the DuckDB-oracle anchors.

Each shared primitive is written once, here:

* ``fold_cosine``: ``dedup.cosine`` in numpy, bit-equal to it. The one
  cosine kernel is ``_cosine_argmax`` (the per-row nearest centroid of
  ``ivf_assign``, ``ivf_objective`` and SemDeDup) and ``_cosine_pairs``
  (the SemDeDup pair block): a matmul prefilter, then ``fold_cosine`` on
  the survivors, so every score it returns is ``cosine()``'s own.
* ``_nearest_code`` (L2 struct-min): the per-row nearest PQ code.
* ``_probe_ids``: the driver-side centroid ranking of a query.
* ``_lsh_probes``: the Python mirror of ``lsh_bucket`` for a query.
* ``_adc_tables`` and ``_adc_rerank``: the driver ADC tables, and the
  ADC shortlist followed by the exact rescore.
* ``_centroid_of``: the id-keyed centroid lookup. ``_with_residual``
  builds the IVF-PQ residual on it.
* ``_lloyd_means``: the fixed-point Lloyd aggregation of IVF and PQ.
* ``cosine_sql`` and ``seeded_assign_cte_sql``: the DuckDB cosine
  template and seeded assignment CTE. Every oracle of
  plans/registry_more.py builds on them.

Hyperplane weights and seeds are deterministic (no RNG), so the DuckDB
oracle reproduces the exact same buckets, codes and assignments.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_html_transform_spark.operators.dedup import cosine

N_PLANES = 8
_W_MOD = 1001  # weight lattice: w in {-500/1000 .. +500/1000}
_W_MUL = 2654435761  # Knuth multiplicative constant


def plane_weight(p: int, d: Column | int) -> Column:
    """Deterministic pseudo-random weight for plane p, dimension d:
    (((p*31 + d) * MUL) mod 1001)/1000 - 0.5  in [-0.5, 0.5]."""
    dd = d if isinstance(d, Column) else F.lit(d)
    raw = ((F.lit(p * 31) + dd) * F.lit(_W_MUL)) % _W_MOD
    return raw.cast("double") / 1000.0 - 0.5


def plane_weight_sql(p: int, d: str) -> str:
    return f"((({p} * 31 + {d}) * {_W_MUL}) % {_W_MOD}) / 1000.0 - 0.5"


def lsh_bucket(
    vec: Column, n_planes: int = N_PLANES, plane_offset: int = 0
) -> Column:
    """Sign-LSH bucket id in [0, 2^n_planes): bit j = 1 iff
    <w_{offset+j}, v> > 0. ``plane_offset`` selects a disjoint plane
    family so independent hash TABLES (multi-table LSH for pair dedup)
    share one weight lattice."""
    def weigher(p: int):
        # closure factory — PySpark miscounts `_p=p` defaults in lambda arity
        return lambda v, d: v * plane_weight(p, d)

    out = F.lit(0)
    for j in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                weigher(plane_offset + j),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        out = out + F.when(proj > 0, F.lit(2**j)).otherwise(F.lit(0))
    return out


def _lsh_probes(
    query_vec: list[float], n_planes: int = N_PLANES, multiprobe: bool = True
) -> list[int]:
    """The buckets a query probes: its ``lsh_bucket`` (pure Python mirror,
    same weight lattice), plus the Hamming-1 buckets when multiprobe."""
    qb = 0
    for p in range(n_planes):
        proj = sum(
            v * (((p * 31 + d) * _W_MUL % _W_MOD) / 1000.0 - 0.5)
            for d, v in enumerate(query_vec)
        )
        if proj > 0:
            qb |= 1 << p
    return [qb] + ([qb ^ (1 << p) for p in range(n_planes)] if multiprobe else [])


def lsh_bucket_sql(
    vec: str = "embedding", n_planes: int = N_PLANES, plane_offset: int = 0
) -> str:
    terms = []
    for j in range(n_planes):
        proj = (
            f"list_sum(list_transform(range(len({vec})), "
            f"d -> {vec}[d+1] * ({plane_weight_sql(plane_offset + j, 'd')})))"
        )
        terms.append(f"CASE WHEN {proj} > 0 THEN {2**j} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force exact top-k by cosine (rounded to 6 places, ties to the
    lower id). The query is a literal array — broadcast inside the
    expression; the scan is a single stage with a global top-k
    (TakeOrderedAndProject), no full sort. Every approximate path ends in
    this call on its candidate frame: it is the exact rescore."""
    q = _lit_vec(query_vec)
    scored = emb.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cos"),
    )
    return scored.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    multiprobe: bool = True,
) -> DataFrame:
    """ANN top-k: score only vectors in the query's LSH bucket (plus
    Hamming-1 buckets when multiprobe). Approximate by design — tests
    measure recall vs cosine_topk rather than equality."""
    probes = _lsh_probes(query_vec, n_planes, multiprobe)
    bucketed = emb.withColumn("__b", lsh_bucket(F.col(vec_col).cast("array<double>"), n_planes))
    cand = bucketed.filter(F.col("__b").isin(probes))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def lsh_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = N_PLANES,
    multiprobe: bool = True,
) -> DataFrame:
    """Batched ANN: top-k per query over a bucketed corpus — the real
    scale path (a single-vector query is a broadcast; a query BATCH is a
    join). Corpus is bucketed once; queries join on bucket (plus Hamming-1
    probes via an exploded probe list), cosine scored inside the join,
    ranked per query with a window top-k.

    Shuffle profile: one exchange per side on the bucket key + one
    window; candidate volume is |corpus|/2^n_planes per probe.
    """
    from pyspark.sql.window import Window

    cvec = F.col(vec_col).cast("array<double>")
    c = corpus.select(
        F.col(id_col), cvec.alias("__cv"), lsh_bucket(cvec, n_planes).alias("__b")
    )
    qvec = F.col(vec_col).cast("array<double>")
    q = queries.select(
        F.col(query_id_col), qvec.alias("__qv"), lsh_bucket(qvec, n_planes).alias("__qb")
    )
    if multiprobe:
        probes = F.array(
            F.col("__qb"),
            *[
                F.col("__qb").bitwiseXOR(F.lit(1 << p))
                for p in range(n_planes)
            ],
        )
    else:
        probes = F.array(F.col("__qb"))
    q = q.withColumn("__b", F.explode(probes))

    joined = q.join(c, "__b")
    scored = joined.select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("__cv"), F.col("__qv")), 6).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the partition-pruning scale path
# ---------------------------------------------------------------------------


def ivf_centroids(
    emb: DataFrame, k: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse codebook: the k lowest-id vectors seed the
    centroids (production would Lloyd-iterate; the sandbox pins seeds so
    the DuckDB oracle reproduces the identical partition assignment —
    quantizer QUALITY is orthogonal to the distributed search structure).
    Returns driver-side rows: k is small by design (codebooks broadcast)."""
    return _low_id_rows(emb, k, id_col, vec_col)


def _low_id_rows(
    emb: DataFrame, n: int, id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """The rows with id < n as sorted driver-side (id, vector) pairs: the
    seeds of every seeded codebook."""
    rows = (
        emb.filter(F.col(id_col) < n)
        .select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .collect()
    )
    return sorted((int(r[0]), [float(x) for x in r[1]]) for r in rows)


def _lit_vec(v: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def _probe_ids(
    query_vec: list[float], centroids: list[tuple[int, list[float]]], nprobe: int
) -> list[int]:
    """The ids of the nprobe centroids nearest the query by cosine, nearest
    first, ties to the lower id: driver-side Python over the k-row
    codebook (the order the DuckDB twin's ROW_NUMBER reproduces)."""

    def cos(b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(query_vec, b))
        na = sum(x * x for x in query_vec) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return dot / (na * nb) if na > 0 and nb > 0 else 0.0

    ranked = sorted(centroids, key=lambda c: (-cos(c[1]), c[0]))
    return [cid for cid, _ in ranked[:nprobe]]


def _centroid_of(centroids: list[tuple[int, list[float]]], cid: Column) -> Column:
    """The codeword of centroid id ``cid``: a lookup in an id-keyed
    literal map, so any int32 ids work, not only dense 0..k-1."""
    return F.map_from_arrays(
        F.array(*[F.lit(c) for c, _ in centroids]),
        F.array(*[_lit_vec(cv) for _, cv in centroids]),
    )[cid]


# ---------------------------------------------------------------------------
# The cosine kernel: a matmul prefilter, then cosine()'s own fold
# ---------------------------------------------------------------------------

# pairs refolded per numpy call: bounds the gathered (pairs, dim) blocks
_FOLD_CHUNK = 1 << 16
# rows of A per prefilter matmul block: a block x |B| score matrix
_PAIR_BLOCK = 1024


def _fold(X: np.ndarray) -> np.ndarray:
    """Row sums of X added left to right from 0.0, as ``cosine()``'s
    ``aggregate`` adds them: np.cumsum is sequential, and ``+ 0.0`` maps
    the -0.0 of a fold of -0.0 terms onto the aggregate's 0.0."""
    if not X.shape[1]:
        return np.zeros(len(X))
    return np.cumsum(X, axis=1)[:, -1] + 0.0


def fold_cosine(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise ``cosine(A[r], B[r])`` of two (n, d) float64 blocks, bit-
    equal to ``dedup.cosine``: the dot product and both squared norms
    folded in sequence, then dot / (na * nb); a zero or NaN norm (a NULL
    element arrives as NaN) gives 0.0."""
    na, nb = np.sqrt(_fold(A * A)), np.sqrt(_fold(B * B))
    return np.divide(
        _fold(A * B), na * nb, out=np.zeros(len(A)), where=(na > 0) & (nb > 0)
    )


def _cosine_at(A: np.ndarray, B: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """``fold_cosine(A[i], B[j])`` in chunks of ``_FOLD_CHUNK`` pairs."""
    return np.concatenate(
        [np.zeros(0)]
        + [
            fold_cosine(A[i[s : s + _FOLD_CHUNK]], B[j[s : s + _FOLD_CHUNK]])
            for s in range(0, len(i), _FOLD_CHUNK)
        ]
    )


def _unit(V: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(unit rows, refold mask) of an (n, d) block for the prefilter. A
    row is scaled by its fold norm when that norm lies in [2^-480,
    2^480]; any other row gets a zero unit row. A zero or NaN norm
    scores 0.0 against anything, which the zero row's matmul score is
    exactly; a positive norm outside the range (deep underflow,
    overflow, an infinite element) marks the row for the refold, since
    ``_slack``'s bound assumes none of these."""
    n = np.sqrt(_fold(V * V))
    safe = (n >= 2.0**-480) & (n <= 2.0**480)
    U = np.divide(V, n[:, None], out=np.zeros_like(V), where=safe[:, None])
    return U, ~safe & (n > 0)


def _slack(d: int) -> float:
    """How far a prefilter score may lie from the folded cosine, doubled.
    With u = 2^-53 and gamma_d = d*u / (1 - d*u), for rows within
    ``_unit``'s range: the fold's dot is within gamma_d * |a| * |b| of
    the exact one and each folded norm within gamma_d / 2 + u relatively,
    so the fold is within 2 * gamma_d + 4u of the exact cosine. The
    matmul of the unit rows, summed in any order, is within gamma_d of
    their exact dot, and scaling leaves each unit row within gamma_d / 2
    + 2u of the exact unit vector, so the score is within 2 * gamma_d +
    4u as well: |score - fold| <= 4 * gamma_d + 8u, about (4d + 8)u.
    The argmax needs twice that (the best score's row may be off by it
    in the other direction); the extra 16u covers gamma_d's denominator
    and the underflow of products of tiny unit-row elements."""
    return (8 * d + 32) * 2.0**-53


def _cosine_argmax(V: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(index, cosine) of each row of V's nearest row of C by ``cosine()``,
    ties to the lower index: the fold over the rows of C whose matmul
    score is within ``_slack`` of the row's best score (the true argmax
    always is), and over every pair ``_unit`` marks."""
    Uv, mv = _unit(V)
    Uc, mc = _unit(C)
    S = Uv @ Uc.T
    must = mv[:, None] | mc[None, :]
    best = np.where(must, -np.inf, S).max(axis=1, initial=-np.inf)
    i, j = np.nonzero((S >= best[:, None] - _slack(V.shape[1])) | must)
    folded = np.full(S.shape, -np.inf)
    folded[i, j] = _cosine_at(V, C, i, j)
    k = np.argmax(folded, axis=1)  # first max = lower index; NaN first, as Spark orders it
    return k, folded[np.arange(len(V)), k]


def _cosine_pairs(
    A: np.ndarray, B: np.ndarray, threshold: float, upper: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(i, j, cosine) of every pair of rows with ``cosine(A[i], B[j]) >=
    threshold``: the fold over the pairs whose matmul score is at least
    threshold - ``_slack`` (every pair that passes is), in row blocks of
    ``_PAIR_BLOCK``. ``upper``: A is B, and only i < j is scored. A NaN
    cosine passes, as it does Spark's and DuckDB's ``>=``."""
    Ua, ma = _unit(A)
    Ub, mb = (Ua, ma) if upper else _unit(B)
    cut = threshold - _slack(A.shape[1])
    out = [(np.zeros(0, dtype=np.int64),) * 2 + (np.zeros(0),)]
    for lo in range(0, len(A), _PAIR_BLOCK):
        hi = min(lo + _PAIR_BLOCK, len(A))
        hit = (Ua[lo:hi] @ Ub.T >= cut) | ma[lo:hi, None] | mb[None, :]
        if upper:
            hit &= np.arange(lo, hi)[:, None] < np.arange(len(B))[None, :]
        i, j = np.nonzero(hit)
        c = _cosine_at(A, B, i + lo, j)
        keep = (c >= threshold) | np.isnan(c)
        out.append((i[keep] + lo, j[keep], c[keep]))
    return tuple(np.concatenate(x) for x in zip(*out))


def _block(vs: pd.Series, d: int) -> np.ndarray:
    """The (n, d) float64 block of an Arrow batch of array<double>. A
    NULL vector, or one of another length, is a NaN row, which scores
    0.0 against anything, as a NULL vector or element does in
    ``cosine()`` (a vector of another length scores NULL there)."""
    V = np.full((len(vs), d), np.nan)
    for r, v in enumerate(vs):
        if v is not None and len(v) == d:
            V[r] = v
    return V


def _assign(v: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """struct<cid int, cos double> of an array<double> column: each row's
    argmax-``cosine()`` centroid, ties to the lower id, and that cosine,
    computed by ``_cosine_argmax`` in one Arrow pass. The codebook ships
    as one (k, d) matrix sorted by id. Ids must fit the int32 ``cid``;
    an id outside it raises here instead of wrapping downstream."""
    from pyspark.sql.functions import pandas_udf

    bad = [cid for cid, _ in centroids if not (-(2**31) <= cid < 2**31)]
    if bad:
        raise ValueError(f"ivf_assign emits int32 centroid ids; out-of-range: {bad[:3]}")
    ordered = sorted(centroids, key=lambda t: t[0])
    cids = np.array([cid for cid, _ in ordered], dtype=np.int32)
    C = np.array([cv for _, cv in ordered], dtype=np.float64)

    # no annotations: `from __future__ import annotations` stringifies
    # them and pandas_udf's signature inference rejects the strings
    def _assign_impl(vs):
        k, cos = _cosine_argmax(_block(vs, C.shape[1]), C)
        return pd.DataFrame({"cid": cids[k], "cos": cos})

    return pandas_udf(_assign_impl, "cid int, cos double")(v)


def ivf_assign(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
) -> DataFrame:
    """Assign every vector to its argmax-cosine centroid (int32
    ``out_col``, ties to the lower id) — ZERO shuffle: one Arrow pass of
    the cosine kernel per batch against the codebook, a matmul plus the
    exact fold on the near-best centroids, so the assignment is the one
    ``cosine()`` and the DuckDB twin give. At 10^12 rows this is the
    map-side quantization pass that feeds a cluster-partitioned (Iceberg
    `bucket(centroid_id)`) layout, after which every probe is
    partition-pruned to nprobe/k of the data."""
    best = _assign(F.col(vec_col).cast("array<double>"), centroids)
    return emb.withColumn(out_col, best["cid"])


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: rank centroids against the query driver-side, probe
    the nprobe nearest clusters only, exact-score the candidates. One
    stage, no shuffle: the assignment's Arrow pass, the filter, and a
    TakeOrderedAndProject."""
    probes = _probe_ids(query_vec, centroids, nprobe)
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    cand = assigned.filter(F.col("centroid_id").isin(probes))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Lloyd-refined IVF codebook (iterative k-means, exact fixed-point means)
# ---------------------------------------------------------------------------

LLOYD_SCALE = 1_000_000


def _lloyd_means(
    frame: DataFrame, keys: list[str], vec: Column, prev: dict
) -> dict:
    """The Lloyd mean of IVF (keys ``centroid_id``) and PQ (keys ``j``,
    ``code``): one ``groupBy(keys)`` of a count and per-element BIGINT
    sums of ``round(x * LLOYD_SCALE)``, collected to the driver. Returns
    ``prev`` ({key tuple: codeword}) with each non-empty group's codeword
    replaced by its mean; an empty group keeps its previous codeword."""
    dim = len(next(iter(prev.values())))
    fx = F.transform(vec, lambda x: F.round(x * LLOYD_SCALE).cast("long"))
    rows = (
        frame.withColumn("__fx", fx)
        .groupBy(*keys)
        .agg(
            F.count("*").alias("__n"),
            *[
                F.sum(F.element_at("__fx", i + 1)).alias(f"__s{i}")
                for i in range(dim)
            ],
        )
        .collect()
    )
    means = {
        tuple(int(r[c]) for c in keys): [
            r[f"__s{i}"] / (r["__n"] * float(LLOYD_SCALE)) for i in range(dim)
        ]
        for r in rows
    }
    return {key: means.get(key, cv) for key, cv in prev.items()}


def lloyd_refine(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """One exact Lloyd iteration: assign every vector to its argmax-cosine
    centroid (zero-shuffle literal codebook, ivf_assign), then recompute
    each centroid as the element-wise mean of its members in FIXED-POINT
    arithmetic — per-element BIGINT sums are exact and order-independent,
    so the new codebook is bit-identical across partitionings AND across
    engines (the DuckDB twin reproduces it; naive double sums would
    diverge in the last ulp and flip near-tie assignments).

    Cost at scale: ONE aggregation shuffle shipping k x dim int64 partial
    sums (map-side combined) — independent of corpus size. Empty clusters
    keep their previous centroid (standard Lloyd; see _lloyd_means)."""
    assigned = ivf_assign(emb, centroids, id_col=id_col, vec_col=vec_col)
    means = _lloyd_means(
        assigned,
        ["centroid_id"],
        F.col(vec_col).cast("array<double>"),
        {(cid,): cv for cid, cv in centroids},
    )
    return sorted((cid, cv) for (cid,), cv in means.items())


def ivf_lloyd_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Seed codebook + ``iters`` exact Lloyd iterations (driver-side loop;
    the codebook is k rows, each iteration is one distributed pass)."""
    c = ivf_centroids(emb, k=k, id_col=id_col, vec_col=vec_col)
    for _ in range(iters):
        c = lloyd_refine(emb, c, id_col=id_col, vec_col=vec_col)
    return c


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of ``dedup.cosine`` over two list expressions, every
    element widened to DOUBLE: the cosine template of every oracle."""
    return (
        f"list_sum(list_transform(range(len({a})), "
        f"i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"
        f" / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * x)))"
        f" * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * x))))"
    )


def _assign_cte_sql(assign: str, cents: str) -> str:
    """CTE ``{assign}(vec_id, cid)``: every embedding's argmax-cosine
    centroid of ``{cents}(cid, cvec)``, ties to the lower cid."""
    return f"""{assign} AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, {cents}.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cosine_sql('e.embedding', f'{cents}.cvec')} DESC,
                          {cents}.cid
               ) AS rk
        FROM embeddings e CROSS JOIN {cents}
      ) WHERE rk = 1)"""


def seeded_assign_cte_sql(cents: str = "c", assign: str = "a", k: int = 8) -> str:
    """DuckDB twin of ``ivf_assign(emb, ivf_centroids(emb, k))``: the CTEs
    ``{cents}(cid, cvec)`` (the k lowest-id vectors) and
    ``{assign}(vec_id, cid)``. ``cvec`` is DOUBLE[] because the Lloyd
    chain's CASE mixes it with the computed means."""
    return f"""{cents} AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM embeddings WHERE vec_id < {k}),
    {_assign_cte_sql(assign, cents)}"""


def lloyd_cte_sql(k: int = 8, iters: int = 2, dim: int = 64) -> tuple[str, str]:
    """DuckDB twin of ivf_lloyd_centroids + final assignment: returns
    (cte_body, final_assign_name). The CTE chain is
    lc0/la0 (seeded_assign_cte_sql) -> lm{i} (fixed-point means) ->
    lc{i+1} (COALESCE empty clusters to previous centroid) -> la{i+1}."""
    parts = [seeded_assign_cte_sql("lc0", "la0", k)]
    for i in range(iters):
        sums = ", ".join(
            f"SUM(CAST(ROUND(e.embedding[{j + 1}] * {LLOYD_SCALE}) AS BIGINT))"
            for j in range(dim)
        )
        parts.append(
            f"""lm{i} AS (
              SELECT a.cid, COUNT(*) AS n, [{sums}] AS s
              FROM la{i} a JOIN embeddings e ON a.vec_id = e.vec_id
              GROUP BY a.cid)"""
        )
        parts.append(
            f"""lc{i + 1} AS (
              SELECT c.cid,
                     CASE WHEN m.cid IS NULL THEN c.cvec
                          ELSE list_transform(m.s, x -> x / (m.n * {LLOYD_SCALE}.0))
                     END AS cvec
              FROM lc{i} c LEFT JOIN lm{i} m ON c.cid = m.cid)"""
        )
        parts.append(_assign_cte_sql(f"la{i + 1}", f"lc{i + 1}"))
    return ",\n".join(parts), f"la{iters}"


# ---------------------------------------------------------------------------
# Product quantization (PQ): the ANN memory-scale path
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces (dim 64 -> 16 dims each)
PQ_KSUB = 16  # codes per subspace -> 4 bits; packed code fits 16 bits


def pq_codebooks(
    emb: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic per-subspace codebooks: the ksub lowest-id vectors'
    subvectors seed subspace j's codes (the ivf_centroids convention —
    production would k-means each subspace; seeding pins the DuckDB
    oracle to the identical encoding). Driver-side: m*ksub*(dim/m)
    doubles — a few KB, broadcast as literals."""
    rows = _low_id_rows(emb, ksub, id_col, vec_col)
    dim = len(rows[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    ds = dim // m
    return [
        [(code, vec[j * ds : (j + 1) * ds]) for code, vec in rows]
        for j in range(m)
    ]


def _l2sq(a: Column, b: Column) -> Column:
    """Sum of squared differences, left-to-right fold (the order every
    engine twin reproduces — float determinism depends on it)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _nearest_code(sub: Column, book: list[tuple[int, list[float]]]) -> Column:
    """Per-row argmin-L2 over one literal subspace codebook: the array_min
    of ksub (d = l2sq, code) structs, so ties go to the lower code.
    ``pq_encode`` reads ``code``, ``pq_distortion`` reads ``d``."""
    return F.array_min(
        F.array(
            *[
                F.struct(_l2sq(sub, _lit_vec(cv)).alias("d"), F.lit(code).alias("code"))
                for code, cv in book
            ]
        )
    )


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    codes_col: str | None = None,
) -> DataFrame:
    """PQ-encode every vector — ZERO shuffle, zero Python: per subspace
    the argmin-L2 code is an array_min over ksub (dist, code) structs
    (struct ordering = dist asc, code asc — the deterministic tie-break),
    all codebook entries inlined as literals. The packed code is
    sum(code_j * ksub^j): 4 subspaces x 16 codes = 16 bits — a 64-dim
    float32 vector (256 B) compresses to 2 B, the layout that lets a
    10^12-vector index live in cluster RAM for ADC scans.

    ``codes_col`` optionally also emits the unpacked array<int>."""
    ksub = len(codebooks[0])
    v = F.col(vec_col).cast("array<double>")
    ds = len(codebooks[0][0][1])
    code_exprs = [
        _nearest_code(F.slice(v, j * ds + 1, ds), book)["code"]
        for j, book in enumerate(codebooks)
    ]
    packed = F.lit(0)
    for j, code in enumerate(code_exprs):
        packed = packed + code * F.lit(ksub**j)
    out = emb.withColumn(out_col, packed.cast("int"))
    if codes_col:
        out = out.withColumn(codes_col, F.array(*code_exprs))
    return out


def pq_l2sq_sql(a: str, b: str) -> str:
    """DuckDB twin of _l2sq (same index order; list_sum over doubles
    matches the engine's left fold — the cosine_sql precedent)."""
    return (
        f"list_sum(list_transform(range(len({a})), "
        f"i -> (CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE))"
        f" * (CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE))))"
    )


def pq_encode_cte_sql(
    m: int = PQ_M, ksub: int = PQ_KSUB, dim: int = 64
) -> str:
    """CTE chain ending in ``pqe`` (vec_id, j, code): the exact encoding
    pq_encode produces, from the same seeded codebooks."""
    ds = dim // m
    sv = f"e.embedding[p.j*{ds}+1 : p.j*{ds}+{ds}]"
    return f"""
    pqc AS (
      SELECT j, vec_id AS code,
             embedding[j*{ds}+1 : j*{ds}+{ds}] AS cvec
      FROM embeddings CROSS JOIN (SELECT unnest(range(0, {m})) AS j)
      WHERE vec_id < {ksub}),
    pqe AS (
      SELECT vec_id, j, code FROM (
        SELECT e.vec_id, p.j, p.code,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id, p.j
                 ORDER BY {pq_l2sq_sql(sv, 'p.cvec')} ASC, p.code
               ) AS rk
        FROM embeddings e CROSS JOIN pqc p
      ) WHERE rk = 1)
    """


def ivfpq_encode_cte_sql(
    m: int = PQ_M, ksub: int = PQ_KSUB, dim: int = 64
) -> str:
    """DuckDB twin of ``ivfpq_encode`` with the seeded coarse codebook:
    CTE chain ending in ``ipqp`` (vec_id, cid, pq_code). Requires the
    caller's WITH to already define ``c`` (cid, cvec) and ``a``
    (vec_id, cid) — ``seeded_assign_cte_sql()``; the coarse width k is
    entirely their concern. Residuals, residual codebooks
    (the ksub lowest-id vectors' residuals, the pq_codebooks convention)
    and the argmin encode all mirror the Spark op order, so every double
    is bit-identical."""
    if ksub & (ksub - 1):
        raise ValueError(f"ksub must be a power of two for the packed shift, got {ksub}")
    bits = ksub.bit_length() - 1
    ds = dim // m
    sv = f"r.rvec[p.j*{ds}+1 : p.j*{ds}+{ds}]"
    return f"""
    ires AS (
      SELECT e.vec_id, a2.cid,
             list_transform(range({dim}),
               i -> CAST(e.embedding[i+1] AS DOUBLE)
                    - CAST(c2.cvec[i+1] AS DOUBLE)) AS rvec
      FROM embeddings e
      JOIN a a2 ON a2.vec_id = e.vec_id
      JOIN c c2 ON c2.cid = a2.cid),
    ipqc AS (
      SELECT j, vec_id AS code, rvec[j*{ds}+1 : j*{ds}+{ds}] AS cvec
      FROM ires CROSS JOIN (SELECT unnest(range(0, {m})) AS j)
      WHERE vec_id < {ksub}),
    ipqe AS (
      SELECT vec_id, cid, j, code FROM (
        SELECT r.vec_id, r.cid, p.j, p.code,
               ROW_NUMBER() OVER (
                 PARTITION BY r.vec_id, p.j
                 ORDER BY {pq_l2sq_sql(sv, 'p.cvec')} ASC, p.code
               ) AS rk
        FROM ires r CROSS JOIN ipqc p
      ) WHERE rk = 1),
    ipqp AS (
      SELECT vec_id, cid,
             CAST(SUM(code * (1 << ({bits} * j))) AS INTEGER) AS pq_code
      FROM ipqe GROUP BY vec_id, cid)
    """


def pq_adc_topk(
    emb: DataFrame,
    query_vec: list[float],
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k with exact rescore —
    the standard PQ search architecture:

    1. driver-side distance tables dt[j][code] = l2sq(q_sub_j, c_{j,code})
       (m*ksub doubles, inlined as literals);
    2. approximate distance per vector = sum_j dt[j][code_j] — pure array
       element_at over the PQ codes, no float vector math on the corpus;
    3. TakeOrdered the best ``rerank`` candidates by (adc, id);
    4. exact-cosine rescore of the candidates, top-k by (cos desc, id).

    Single stage, no shuffle, no Python; at 10^12 vectors step 2 touches
    2 bytes/vector instead of 256."""
    enc = pq_encode(emb, codebooks, vec_col=vec_col, codes_col="__codes")
    adc = F.lit(0.0)
    for j, dt in enumerate(_adc_tables(query_vec, codebooks)):
        table = F.array(*[F.lit(d) for d in dt])
        adc = adc + F.element_at(table, F.element_at("__codes", j + 1) + 1)
    return _adc_rerank(enc, adc, query_vec, k, rerank, id_col, vec_col)


def _adc_tables(
    query_vec: list[float], books: list[list[tuple[int, list[float]]]]
) -> list[list[float]]:
    """Driver-side ADC tables: dt[j][i] = l2sq(query subvector j, code i of
    book j), summed left to right. m*ksub doubles, inlined as literals."""
    ds = len(books[0][0][1])
    tables = []
    for j, book in enumerate(books):
        qsub = [float(x) for x in query_vec[j * ds : (j + 1) * ds]]
        row = []
        for _, cv in book:
            acc = 0.0
            for x, y in zip(qsub, cv):
                acc += (x - y) * (x - y)
            row.append(acc)
        tables.append(row)
    return tables


def _adc_rerank(
    cand: DataFrame,
    adc: Column,
    query_vec: list[float],
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """TakeOrdered the best ``rerank`` candidates by (adc, id), then the
    exact ``cosine_topk`` rescore of that shortlist."""
    short = cand.withColumn("__adc", adc).orderBy(F.asc("__adc"), F.col(id_col)).limit(rerank)
    return cosine_topk(short, query_vec, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF index at rest: centroid-partitioned layout + file-pruned probes
# ---------------------------------------------------------------------------


def ivf_write_index(
    table,
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Materialize the IVF layout: vectors quantized (zero-shuffle
    literal-codebook argmax) then range-partitioned by ``centroid_id``
    so each data file covers a contiguous centroid range, and committed
    to a ManifestTable with centroid_id footer stats. This is the
    `bucket(centroid_id)` Iceberg layout made concrete: at 10^12
    vectors a probe of nprobe/k clusters reads nprobe/k of the FILES —
    the manifest prunes before Spark lists anything."""
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    laid_out = assigned.repartitionByRange(
        max(1, len(centroids)), F.col("centroid_id")
    )
    return table.append(laid_out, stats_cols=["centroid_id"])


def ivf_topk_indexed(
    table,
    spark,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "tuple[DataFrame, int, int]":
    """IVF top-k against the at-rest index: rank centroids driver-side,
    manifest-prune to the probed clusters' files, exact-score only what
    survives. Returns (result, files_read, files_total) so callers — and
    tests — can see the prune doing its job."""
    probes = sorted(_probe_ids(query_vec, centroids, nprobe))
    total = len(table.files())
    paths: list[str] = []
    seen: set[str] = set()
    for cid in probes:
        for f in table.files(prune={"centroid_id": (cid, cid)}):
            if f.path not in seen:
                seen.add(f.path)
                paths.append(f.path)
    if not paths:
        # probed centroids own no files (empty clusters, or footer stats
        # pruned everything): empty top-k, not a read.parquet() crash
        empty = spark.createDataFrame([], f"{id_col} long, cos double")
        return empty, 0, total
    cand = spark.read.parquet(*paths).filter(
        F.col("centroid_id").isin([int(c) for c in probes])
    )
    return cosine_topk(cand, query_vec, k, id_col, vec_col), len(paths), total


# ---------------------------------------------------------------------------
# IVF-PQ: product quantization over coarse-cluster residuals
# ---------------------------------------------------------------------------


def _with_residual(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """``ivf_assign`` plus ``__res`` = v - centroid[centroid_id], all
    literals (the id-keyed ``_centroid_of`` lookup): the prelude of both
    IVF-PQ encoders."""
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    res = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        _centroid_of(centroids, F.col("centroid_id")),
        lambda a, b: a - b,
    )
    return assigned.withColumn("__res", res)


def ivfpq_encode(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[tuple[int, list[float]]]]]:
    """The canonical billion-scale ANN layout (faiss IVFPQ): coarse
    cluster id + a PQ code of the RESIDUAL (v - centroid). Residuals
    concentrate near the origin, so the same 16-bit code budget spends
    its resolution inside the cluster instead of re-encoding the
    cluster's position — strictly more informative per bit than flat PQ.

    Zero shuffle end-to-end: assignment is the literal-codebook argmax,
    the residual is a zip_with against a literal centroid table, the PQ
    encode is the struct-min argmin — one projection over the scan.
    Residual codebooks are seeded from the ksub lowest-id vectors'
    residuals (the pq_codebooks convention — deterministic, so tests and
    engines reproduce the identical index).

    Returns (DataFrame[id, centroid_id, pq_code], residual codebooks)."""
    with_res = _with_residual(emb, centroids, id_col, vec_col)
    books = pq_codebooks(with_res, m, ksub, id_col, "__res")
    enc = pq_encode(with_res, books, vec_col="__res")
    return enc.drop("__res"), books


def ivfpq_topk(
    encoded: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFPQ search: rank centroids driver-side, build a PER-PROBED-
    CLUSTER ADC table from the query's residual against that cluster
    (the asymmetric part), approximate-distance only rows inside probed
    clusters, exact-cosine rescore of the best ``rerank``. The per-row
    table choice is a codegen'd CASE over nprobe literal tables."""
    cents = dict(centroids)
    probes = _probe_ids(query_vec, centroids, nprobe)
    ksub = len(books[0])
    tables = {
        cid: _adc_tables([float(x) - c for x, c in zip(query_vec, cents[cid])], books)
        for cid in probes
    }
    cand = encoded.filter(F.col("centroid_id").isin([int(c) for c in probes]))
    # unpack code_j = (pq_code div ksub^j) % ksub, look up the probed
    # cluster's table
    adc = F.lit(0.0)
    for j in range(len(books)):
        code_j = F.pmod(
            (F.col("pq_code") - F.pmod(F.col("pq_code"), F.lit(ksub**j)))
            / F.lit(ksub**j),
            F.lit(ksub),
        ).cast("int")
        expr = None
        for cid in probes:
            t = F.array(*[F.lit(d) for d in tables[cid][j]])
            branch = F.element_at(t, code_j + 1)
            expr = (
                F.when(F.col("centroid_id") == cid, branch)
                if expr is None
                else expr.when(F.col("centroid_id") == cid, branch)
            )
        adc = adc + expr
    return _adc_rerank(cand, adc, query_vec, k, rerank, id_col, vec_col)


# ---------------------------------------------------------------------------
# Trained codebooks: k-means++ seeding + distributed Lloyd for IVF and PQ
# ---------------------------------------------------------------------------
# The seeded codebooks above stay as the DuckDB-oracle anchors (an oracle
# needs a closed-form codebook); the trained paths below are what a user
# points at a real corpus — recall governed by k-means++ + Lloyd instead
# of arbitrary low-id seeds. Quality is pinned by recall/objective
# assertions (tests + tools/eval_ann.py), not an SQL twin.


def _sample_vectors(
    emb: DataFrame,
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic bounded driver sample: the n smallest xxhash64(id)
    rows (hash order is layout- and partitioning-independent, and
    orderBy+limit compiles to TakeOrdered — per-partition top-n + a
    driver merge, never a global sort). n*dim doubles on the driver:
    2048 x 64 = ~1 MB regardless of corpus size."""
    import numpy as np

    rows = (
        emb.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .orderBy(F.xxhash64(F.col("__id")), F.col("__id"))
        .limit(n)
        .collect()
    )
    return np.array([r["__v"] for r in rows], dtype=np.float64)


def _kmeanspp(X, k: int, seed: int = 13):
    """Classic k-means++ D^2 seeding (Arthur & Vassilvitskii 2007) on a
    driver-side sample — numpy, deterministic via the seed."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n = len(X)
    if n <= k:
        reps = np.tile(X, (k // max(1, n) + 1, 1))
        return reps[:k].copy()
    first = int(rng.randint(n))
    chosen = [first]
    d2 = ((X - X[first]) ** 2).sum(axis=1)
    for _ in range(1, k):
        tot = float(d2.sum())
        if tot <= 0:
            nxt = int(rng.randint(n))
        else:
            nxt = int(rng.choice(n, p=d2 / tot))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
    return X[chosen].copy()


def ivf_trained_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    sample_n: int = 2048,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """TRAINED coarse codebook: k-means++ on a deterministic sample of
    row-normalized vectors (L2 k-means++ on the unit sphere == spherical/
    cosine seeding — ivf_assign's cosine argmax is scale-invariant), then
    ``iters`` exact distributed Lloyd passes over the FULL corpus
    (lloyd_refine: one k*dim int64 partial-sum exchange per pass).

    Drop-in for ivf_centroids everywhere a codebook is consumed
    (ivf_assign/ivf_topk/ivf_write_index/ivfpq_*)."""
    import numpy as np

    X = _sample_vectors(emb, sample_n, id_col, vec_col)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    Xn = np.divide(X, norms, out=np.zeros_like(X), where=norms > 0)
    seeds = _kmeanspp(Xn, k, seed)
    cents = [(i, [float(x) for x in seeds[i]]) for i in range(k)]
    for _ in range(iters):
        cents = lloyd_refine(emb, cents, id_col=id_col, vec_col=vec_col)
    return cents


def pq_lloyd_refine(
    emb: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """One exact Lloyd iteration over ALL PQ subspaces in a single
    distributed pass: encode with the current books (pq_encode — zero
    shuffle), explode each row into m narrow (subspace, code, subvector)
    records, then ONE map-side-combined aggregation keyed on
    (subspace, code) — m*ksub groups of ds fixed-point int64 sums, a
    driver-sized result independent of corpus size. Empty codes keep
    their previous centroid (see _lloyd_means)."""
    ds = len(codebooks[0][0][1])
    enc = pq_encode(emb, codebooks, vec_col=vec_col, codes_col="__codes")
    v = F.col(vec_col).cast("array<double>")
    sub_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.element_at("__codes", j + 1).alias("code"),
                F.slice(v, j * ds + 1, ds).alias("sv"),
            )
            for j in range(len(codebooks))
        ]
    )
    subs = enc.select(F.explode(sub_structs).alias("e")).select("e.*")
    means = _lloyd_means(
        subs,
        ["j", "code"],
        F.col("sv"),
        {(j, code): cv for j, book in enumerate(codebooks) for code, cv in book},
    )
    return [
        [(code, means[(j, code)]) for code, _ in book]
        for j, book in enumerate(codebooks)
    ]


def pq_train_codebooks(
    emb: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 2,
    sample_n: int = 2048,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """TRAINED per-subspace PQ codebooks: k-means++ seeds each subspace
    on the deterministic sample (raw L2 — PQ quantizes raw subvectors),
    then ``iters`` pq_lloyd_refine passes over the full corpus. Drop-in
    for pq_codebooks in pq_encode/pq_adc_topk."""
    X = _sample_vectors(emb, sample_n, id_col, vec_col)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    ds = dim // m
    books = []
    for j in range(m):
        seeds = _kmeanspp(X[:, j * ds : (j + 1) * ds], ksub, seed + j)
        books.append(
            [(c, [float(x) for x in seeds[c]]) for c in range(ksub)]
        )
    for _ in range(iters):
        books = pq_lloyd_refine(emb, books, vec_col=vec_col)
    return books


def ivfpq_encode_trained(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 2,
    sample_n: int = 2048,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "tuple[DataFrame, list[list[tuple[int, list[float]]]]]":
    """ivfpq_encode with TRAINED residual codebooks: the PQ books are
    k-means++ + Lloyd over the residuals (v - assigned centroid) — the
    faiss IVFPQ training recipe — instead of low-id seeds. Same zero-
    shuffle encode; searchable with the unchanged ivfpq_topk."""
    with_res = _with_residual(emb, centroids, id_col, vec_col)
    books = pq_train_codebooks(
        with_res, m, ksub, iters, sample_n, seed, id_col, "__res"
    )
    enc = pq_encode(with_res, books, vec_col="__res")
    return enc.drop("__res"), books


def pq_distortion(
    emb: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
) -> float:
    """Mean total squared quantization error (sum over subspaces of
    l2sq(subvector, chosen code)) — the k-means objective PQ training
    minimizes; lets tests assert trained <= seeded without an oracle.
    One partial-agg'd mean, no shuffle of payloads."""
    ds = len(codebooks[0][0][1])
    v = F.col(vec_col).cast("array<double>")
    total = F.lit(0.0)
    for j, book in enumerate(codebooks):
        total = total + _nearest_code(F.slice(v, j * ds + 1, ds), book)["d"]
    return float(emb.select(F.avg(total)).first()[0])


def ivf_objective(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> float:
    """Mean cosine of every vector to its assigned centroid — the
    spherical k-means objective (higher is better)."""
    best = _assign(F.col(vec_col).cast("array<double>"), centroids)["cos"]
    return float(emb.select(best.alias("__c")).select(F.avg("__c")).first()[0])
