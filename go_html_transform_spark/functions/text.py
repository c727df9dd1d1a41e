"""Text-analysis kernels for the training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting.

All pure Column arithmetic (JVM-side, codegen'd) with DuckDB SQL twins for
the oracle — same cross-engine discipline as functions/tokenize.py. No
Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword lists (heuristic n-gram-free language ID) —
# deterministic and identical in both engines. Order = tie-break priority.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "la", "los", "y", "es", "un"),
}

FP_MOD = 2**31 - 1  # fingerprint modulus (Mersenne, fits int64 everywhere)
FP_MUL = 31


def _words(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda w: F.length(w) > 0)


def words_sql(text: str = "text") -> str:
    return f"list_filter(string_split({text}, ' '), w -> length(w) > 0)"


# ---------------------------------------------------------------------------
# language ID
# ---------------------------------------------------------------------------


def lang_hits(text: Column, lang: str) -> Column:
    sw = STOPWORDS[lang]
    return F.size(F.filter(_words(text), lambda w: F.lower(w).isin(*sw)))


def lang_id(text: Column) -> Column:
    """argmax over per-language stopword hits; ties resolve in STOPWORDS
    order; all-zero -> 'unknown'."""
    hits = {lang: lang_hits(text, lang) for lang in STOPWORDS}
    best = F.lit("unknown")
    best_hits = F.lit(0)
    for lang in STOPWORDS:  # first language wins ties (> strictly)
        is_better = hits[lang] > best_hits
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_hits = F.when(is_better, hits[lang]).otherwise(best_hits)
    return best


def lang_id_sql(text: str = "text") -> str:
    hit = {
        lang: (
            f"len(list_filter({words_sql(text)}, w -> lower(w) IN "
            f"({', '.join(repr(s) for s in sw)})))"
        )
        for lang, sw in STOPWORDS.items()
    }
    langs = list(STOPWORDS)
    expr = "'unknown'"
    cond = "0"
    # fold in reverse so the FIRST language wins ties, mirroring lang_id()
    for lang in langs:
        expr = f"CASE WHEN {hit[lang]} > {cond} THEN '{lang}' ELSE {expr} END"
        cond = f"CASE WHEN {hit[lang]} > {cond} THEN {hit[lang]} ELSE {cond} END"
    return expr


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------


def quality_score(text: Column) -> Column:
    """Composite [0,1] score: length saturation + stopword ratio + mean
    word length band + distinct-word ratio. Weights fixed forever."""
    words = _words(text)
    n = F.size(words)
    nn = F.greatest(n, F.lit(1)).cast("double")
    len_sat = F.least(n / F.lit(64.0), F.lit(1.0))
    sw = STOPWORDS["en"]
    stop_ratio = F.size(F.filter(words, lambda w: F.lower(w).isin(*sw))) / nn
    mean_wlen = (
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w)).cast("double")
        / nn
    )
    wlen_band = F.least(mean_wlen / F.lit(8.0), F.lit(1.0))
    distinct_ratio = F.size(F.array_distinct(words)) / nn
    return F.round(
        0.3 * len_sat + 0.2 * stop_ratio + 0.2 * wlen_band + 0.3 * distinct_ratio, 6
    )


def quality_score_ppm(text: Column) -> Column:
    """The quality score in EXACT integer parts-per-million.

    Every component is a small-integer ratio, so the whole composite is
    the rational NUM / (640*n) with
    NUM = 3*min(n,64)*n + 128*n_stop + 16*min(sum_len, 8n) + 192*n_distinct
    (n clamped to >=1). quality_ppm = half-up(NUM*1e6 / (640n)) computed in
    pure BIGINT arithmetic — bit-identical in any engine. The rounded-
    double form (quality_score) diverges cross-engine at ROUND ties:
    Spark rounds the exact decimal of the double HALF_UP while DuckDB
    rounds the SCALED double, and at sf0.1 one document landed on
    opposite sides (0.520313 vs 0.520312). Magnitudes: NUM <= 640n,
    NUM*1e6 <= 6.4e8 * n — safe int64 for n < 1.4e10 words."""
    words = _words(text)
    n = F.size(words).cast("long")
    n1 = F.greatest(n, F.lit(1)).cast("long")
    sw = STOPWORDS["en"]
    n_stop = F.size(F.filter(words, lambda w: F.lower(w).isin(*sw))).cast("long")
    sum_len = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    ).cast("long")
    n_dist = F.size(F.array_distinct(words)).cast("long")
    num = (
        F.lit(3) * F.least(n, F.lit(64)) * n1
        + F.lit(128) * n_stop
        + F.lit(16) * F.least(sum_len, F.lit(8) * n1)
        + F.lit(192) * n_dist
    )
    x = num * F.lit(1_000_000) + F.lit(320) * n1
    y = F.lit(640) * n1
    # exact integer division: (x - x%y) is a multiple of y whose quotient
    # (<= 1e6 + small) is exactly representable, so the double divide is
    # exact
    return ((x - F.pmod(x, y)) / y).cast("long")


def quality_score_ppm_sql(text: str = "text") -> str:
    w = words_sql(text)
    sw = ", ".join(repr(s) for s in STOPWORDS["en"])
    n = f"CAST(len({w}) AS BIGINT)"
    n1 = f"GREATEST({n}, 1)"
    n_stop = f"CAST(len(list_filter({w}, x -> lower(x) IN ({sw}))) AS BIGINT)"
    sum_len = (
        f"CAST(COALESCE(list_sum(list_transform({w}, x -> length(x))), 0) AS BIGINT)"
    )
    n_dist = f"CAST(len(list_distinct({w})) AS BIGINT)"
    num = (
        f"(3 * LEAST({n}, 64) * {n1} + 128 * {n_stop}"
        f" + 16 * LEAST({sum_len}, 8 * {n1}) + 192 * {n_dist})"
    )
    return f"(({num} * 1000000 + 320 * {n1}) // (640 * {n1}))"


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------


def whitespace_token_count(text: Column) -> Column:
    return F.size(_words(text))


def subword_token_count(text: Column) -> Column:
    """BPE-ish estimate without a vocab: ceil(len(word)/4) subwords per
    word — the standard chars/4 heuristic, exact integer arithmetic."""
    return F.aggregate(
        _words(text), F.lit(0), lambda acc, w: acc + F.ceil(F.length(w) / 4).cast("int")
    )


def subword_token_count_sql(text: str = "text") -> str:
    # outer CAST: DuckDB list_sum(int list) widens to HUGEINT, which the
    # driver's pandas fetch turns into float64 — hash-fatal vs Spark's int
    return (
        f"CAST(COALESCE(list_sum(list_transform({words_sql(text)},"
        f" w -> CAST(ceil(length(w) / 4.0) AS INTEGER))), 0) AS INTEGER)"
    )


# ---------------------------------------------------------------------------
# document fingerprint (order-sensitive rolling hash over token ids)
# ---------------------------------------------------------------------------


def fingerprint(tokens: Column) -> Column:
    """acc = (acc*31 + t) mod (2^31-1) over the token sequence — the
    rolling-hash analogue of the reference's rendered-string identity
    (h5/h5.go:40-54 golden-string equality). NULL elements are skipped
    (order of the survivors preserved): a NULL otherwise poisons Spark's
    fold to NULL while the DuckDB twin COALESCEd to 0 — a dtype-class
    divergence found by tests/test_oracle_fuzz.py."""
    return F.coalesce(
        F.aggregate(
            F.filter(tokens, lambda t: t.isNotNull()),
            F.lit(0).cast("long"),
            lambda acc, t: (acc * FP_MUL + t) % FP_MOD,
        ),
        F.lit(0).cast("long"),  # NULL array -> 0, like the twin's COALESCE
    )


def fingerprint_sql(tokens: str = "tokens") -> str:
    # list_reduce seeds with the first element, so prepend the 0 seed;
    # null elements filtered to match the engine's null-skip
    return (
        f"COALESCE(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_filter({tokens}, t -> t IS NOT NULL), "
        f"t -> CAST(t AS BIGINT))), "
        f"(acc, t) -> (acc * {FP_MUL} + t) % {FP_MOD}), 0)"
    )


# BPE-ish regex tokenizer pattern: letter runs | digit runs | single
# non-alnum-non-space marks. Deliberately restricted to a dialect that
# parses identically under Java regex (Spark) and RE2 (DuckDB) — no
# lookarounds, no \p classes.
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def regex_token_count(text: Column) -> Column:
    """BPE-ish REGEX token count: letter runs + digit runs + individual
    punctuation marks (the GPT-2-pretokenizer shape without lookarounds,
    so the same pattern runs on Spark's Java regex and DuckDB's RE2).
    Complements subword_token_count's chars/4 heuristic."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_RE), F.lit(0))).cast("int")


def regex_token_count_sql(text: str = "text") -> str:
    return (
        f"CAST(len(regexp_extract_all({text}, '{BPE_RE}')) AS INTEGER)"
    )
