"""Arrow-vectorized pandas-UDF token kernels — the engine's §2.14
extension point (b): custom numeric kernels that built-in Column
expressions can't express efficiently, as Series->Series pandas UDFs
(never row-at-a-time Python).

Reference analogue: ``TransformFunc``/``CollectorFunc`` are arbitrary
user code plugged into the pipeline
(/root/reference/html/transform/transform.go:17-28,41-42); here the plug-in
shape is a ``@pandas_udf`` over Arrow batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType


def _token_entropy_impl(tokens: pd.Series) -> pd.Series:
    def one(arr) -> float:
        if arr is None or len(arr) == 0:
            return 0.0
        _, counts = np.unique(np.asarray(arr), return_counts=True)
        p = counts / counts.sum()
        return float(-(p * np.log(p)).sum())

    return tokens.map(one)


def token_entropy(col) -> Column:
    """Shannon entropy (nats) of each row's token distribution — a
    quality/diversity feature. Vectorized per Arrow batch with numpy;
    empty sequences -> 0.0. (UDF wrapped at call time: @pandas_udf at
    module scope needs an active SparkSession just to parse its return
    type, which would make this module import-order-dependent.)"""
    return pandas_udf(_token_entropy_impl, "double")(col)


def _repetition_ratio_impl(tokens: pd.Series) -> pd.Series:
    def one(arr) -> float:
        if arr is None or len(arr) == 0:
            return 0.0
        a = np.asarray(arr)
        return float(1.0 - np.unique(a).size / a.size)

    return tokens.map(one)


def repetition_ratio(col) -> Column:
    """1 - distinct/len: how repetitive a sequence is (dedup signal)."""
    return pandas_udf(_repetition_ratio_impl, "double")(col)


def entropy_expr(tokens: Column | str = "tokens") -> Column:
    """Array-native entropy twin built ONLY from Column expressions —
    used by tests to pin the pandas kernel's semantics JVM-side (and as
    the hot-path choice when the expression form is fast enough)."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    n = F.size(t)
    uniq = F.array_distinct(t)
    # sum over distinct v of -(c/n)*ln(c/n), c = count of v in t
    contrib = F.transform(
        uniq,
        lambda v: -(
            F.size(F.filter(t, lambda x: x == v)).cast("double") / n
        )
        * F.log(F.size(F.filter(t, lambda x: x == v)).cast("double") / n),
    )
    return F.when(n > 0, F.aggregate(contrib, F.lit(0.0), lambda a, b: a + b)).otherwise(
        F.lit(0.0)
    )


def _minhash16_impl(tokens: pd.Series) -> pd.Series:
    from go_html_transform_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )

    n_hashes = 16
    A = np.array(
        [(2 * i + 1) * MINHASH_A % MINHASH_P for i in range(n_hashes)],
        dtype=np.int64,
    )
    B = np.array(
        [i * MINHASH_B % MINHASH_P for i in range(n_hashes)], dtype=np.int64
    )
    sentinel = np.full(n_hashes, MINHASH_P, dtype=np.int64)

    empty = np.empty(0, dtype=np.int64)

    def _uniq(a):
        if a is None or not len(a):
            return empty
        try:
            return np.unique(np.asarray(a, dtype=np.int64))
        except (TypeError, ValueError):
            # NULL-bearing row: skip nulls/NaNs to match the expression twin
            # (array_min ignores NULL elements); np.asarray raises on None.
            vals = [t for t in a if t is not None and t == t]
            return np.unique(np.asarray(vals, dtype=np.int64)) if vals else empty

    uniqs = [_uniq(a) for a in tokens]
    lens = np.fromiter((u.size for u in uniqs), dtype=np.int64, count=len(uniqs))
    out = [None] * len(uniqs)
    nonempty = np.flatnonzero(lens)
    if nonempty.size:
        flat = np.concatenate([uniqs[i] for i in nonempty])
        # (M, 16): one pass over all tokens of the batch for all 16
        # hashes; reduce mod P BEFORE the multiply — same residues
        # ((v % P) * a == v * a mod P) and overflow-safe for full-range
        # int64 inputs (2^21-base packed shingles), where the raw
        # multiply would silently wrap in numpy
        H = ((flat % MINHASH_P)[:, None] * A + B) % MINHASH_P
        starts = np.concatenate(([0], np.cumsum(lens[nonempty])[:-1]))
        mins = np.minimum.reduceat(H, starts, axis=0)
        for j, i in enumerate(nonempty):
            out[i] = mins[j]
    for i in np.flatnonzero(lens == 0):
        out[i] = sentinel
    return pd.Series(out)


def minhash16_arrow(col) -> Column:
    """Vectorized MinHash-16 twin of operators/dedup.minhash_signature
    (identical affine hashes over the distinct token set, sentinel P for
    empty rows). The expression form walks the array 16 times through
    interpreted higher-order functions; this kernel does ONE flattened
    (M x 16) numpy pass per Arrow batch — the hot-path choice for the
    10^12-row dedup sweep."""
    return pandas_udf(_minhash16_impl, ArrayType(LongType()))(col)


# ---------------------------------------------------------------------------
# text-analysis Arrow kernel: a parity-pinned alternative tier of functions/text.py
# ---------------------------------------------------------------------------

_TA_FIELDS = "lang_pred string, quality_ppm long, ws_tokens int, subword_tokens int"


def _text_analysis_impl(text: pd.Series) -> pd.DataFrame:
    """Vectorized twin of text.lang_id / quality_score_ppm /
    whitespace_token_count / subword_token_count. Expression forms are
    interpreted HOF folds (~8k docs/s at local[32], BENCH/OPS.md); this
    pandas path vectorizes the split once per batch and runs the same
    exact integer arithmetic. Parity is pinned per-row in
    tests/test_text_functions.py. The expression twin stays the DuckDB
    oracle and is what ``prepare_training_corpus`` calls (``lang_id``,
    ``quality_score_ppm``); this kernel is an alternative tier, measured
    2.2x faster at 500k rows on local[32] (BENCH/OPS.md: 2.63 s vs
    5.80 s)."""
    from go_html_transform_spark.functions.text import STOPWORDS

    words = text.fillna("").str.split(" ").map(
        lambda ws: [w for w in ws if w]
    )
    n = words.map(len).to_numpy(dtype=np.int64)
    n1 = np.maximum(n, 1)

    lower = words.map(lambda ws: [w.lower() for w in ws])
    hits = {
        lang: lower.map(lambda ws, s=frozenset(sw): sum(w in s for w in ws))
        .to_numpy(dtype=np.int64)
        for lang, sw in STOPWORDS.items()
    }
    lang_pred = np.full(len(text), "unknown", dtype=object)
    best = np.zeros(len(text), dtype=np.int64)
    for lang in STOPWORDS:  # first language wins ties, like the Column fold
        better = hits[lang] > best
        lang_pred[better] = lang
        best = np.where(better, hits[lang], best)

    n_stop = hits["en"]
    sum_len = words.map(lambda ws: sum(len(w) for w in ws)).to_numpy(dtype=np.int64)
    n_dist = words.map(lambda ws: len(set(ws))).to_numpy(dtype=np.int64)
    num = (
        3 * np.minimum(n, 64) * n1
        + 128 * n_stop
        + 16 * np.minimum(sum_len, 8 * n1)
        + 192 * n_dist
    )
    q_ppm = (num * 1_000_000 + 320 * n1) // (640 * n1)

    subword = words.map(lambda ws: sum((len(w) + 3) // 4 for w in ws)).to_numpy(
        dtype=np.int32
    )
    out = pd.DataFrame(
        {
            "lang_pred": lang_pred,
            "quality_ppm": pd.array(q_ppm, dtype="Int64"),
            "ws_tokens": pd.array(n.astype(np.int32), dtype="Int32"),
            "subword_tokens": pd.array(subword, dtype="Int32"),
        }
    )
    # NULL text: the expression twins return NULL for the numeric fields
    # (lang_id alone pins 'unknown') — mirror that exactly
    isnull = text.isna().to_numpy()
    out.loc[isnull, ["quality_ppm", "ws_tokens", "subword_tokens"]] = pd.NA
    return out


def text_analysis_arrow(col) -> Column:
    """struct<lang_pred, quality_ppm, ws_tokens, subword_tokens> computed
    in one Arrow batch pass."""
    return pandas_udf(_text_analysis_impl, _TA_FIELDS)(col)


def _repetition_stats_impl(tokens: pd.Series) -> pd.DataFrame:
    """numpy twin of functions/repetition.with_repetition for n in
    {2, 3}: pack (20-bit masked) n-grams, count multiplicities with
    np.unique, emit (dup_ppm, top_ppm) per n — exact integer ppm, same
    NULL contract (None elements dropped, None array -> all zeros)."""
    PPM = 1_000_000
    MASK = (1 << 20) - 1
    BASE = 1 << 20

    def stats(arr, n):
        if arr is None:
            return 0, 0
        # NULL elements arrive as NaN in a float64 Arrow batch (the
        # minhash16 lesson); float64 holds int32 ids exactly
        a = np.asarray(arr, dtype=np.float64)
        t = a[~np.isnan(a)].astype(np.int64) & MASK
        m = t.size - n + 1
        if m <= 0:
            return 0, 0
        g = t[:m].copy()
        for j in range(1, n):
            g = g * BASE + t[j : j + m]
        _, counts = np.unique(g, return_counts=True)
        dup = int(counts[counts >= 2].sum())
        top = int(counts.max())
        return dup * PPM // m, top * PPM // m

    out = {"rep2_dup_ppm": [], "rep2_top_ppm": [],
           "rep3_dup_ppm": [], "rep3_top_ppm": []}
    for arr in tokens:
        d2, t2 = stats(arr, 2)
        d3, t3 = stats(arr, 3)
        out["rep2_dup_ppm"].append(d2)
        out["rep2_top_ppm"].append(t2)
        out["rep3_dup_ppm"].append(d3)
        out["rep3_top_ppm"].append(t3)
    return pd.DataFrame(out)


_REP_FIELDS = (
    "rep2_dup_ppm long, rep2_top_ppm long, rep3_dup_ppm long, "
    "rep3_top_ppm long"
)


def repetition_arrow(col) -> Column:
    """struct of all four repetition-filter stats in one Arrow batch pass
    — a parity-pinned alternative tier, measured 5x faster at 500k rows
    on local[32] (BENCH/OPS.md: 2.43 s vs 12.11 s; the expression form
    pays the interpreted-HOF tax like text_analysis). The expression twin
    (functions/repetition.py) stays the DuckDB oracle and is what
    ``prepare_training_corpus`` calls (``with_repetition``); per-row
    parity pinned in tests/test_repetition.py."""
    return pandas_udf(_repetition_stats_impl, _REP_FIELDS)(col)
