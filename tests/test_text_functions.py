"""Text-analysis kernels: lang-id, quality, token counts, fingerprint —
plus fingerprint/rolling-hash determinism."""

import pytest
from pyspark.sql import functions as F

from go_html_transform_spark.functions import text as TX
from go_html_transform_spark.functions.tokenize import tokens_expr


def _df(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")


def test_lang_id(spark):
    df = _df(
        spark,
        [
            "the cat sat of the mat and a dog",
            "der hund und die katze ist ein tier",
            "le chat et la maison est un lieu",
            "xyzzy qwerty asdf",
        ],
    )
    got = [r.l for r in df.select(TX.lang_id(F.col("text")).alias("l")).collect()]
    assert got == ["en", "de", "fr", "unknown"]


def test_lang_id_tie_prefers_first(spark):
    # 'un' is in both fr and es lists; fr comes first in STOPWORDS order
    df = _df(spark, ["un un"])
    got = df.select(TX.lang_id(F.col("text")).alias("l")).collect()[0].l
    assert got == "fr"


def test_quality_score_range_and_monotonicity(spark):
    df = _df(
        spark,
        [
            "the of and a is in to the quick brown fox jumps over lazy dogs "
            "with many distinct interesting words appearing here today",
            "x x x x x x x x",
            "",
        ],
    )
    got = [r.q for r in df.select(TX.quality_score(F.col("text")).alias("q")).collect()]
    assert all(0.0 <= q <= 1.0 for q in got)
    assert got[0] > got[1]  # rich text beats degenerate repetition
    assert got[2] == 0.0 or got[2] < 0.2  # empty text scores ~0


def test_token_counts(spark):
    df = _df(spark, ["one two  three", "abcdefgh xy", ""])
    out = df.select(
        TX.whitespace_token_count(F.col("text")).alias("ws"),
        TX.subword_token_count(F.col("text")).alias("sw"),
    ).collect()
    assert [r.ws for r in out] == [3, 2, 0]
    # ceil(3/4)+ceil(3/4)+ceil(5/4)=1+1+2 ; ceil(8/4)+ceil(2/4)=2+1 ; 0
    assert [r.sw for r in out] == [4, 3, 0]


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [3, 2, 1]), (3, [1, 2, 3]), (4, [])],
        "id int, tokens array<int>",
    )
    got = {r.id: r.fp for r in df.select("id", TX.fingerprint(F.col("tokens")).alias("fp")).collect()}
    assert got[1] == got[3]  # deterministic
    assert got[1] != got[2]  # order matters (rolling hash)
    assert got[4] == 0
    # exact value: ((0*31+1)*31+2)*31+3 = 1028
    assert got[1] == ((1 * 31 + 2) * 31 + 3)


def test_fingerprint_matches_tokenized_text(spark):
    df = _df(spark, ["key agg row scan slow"])
    fp = df.select(TX.fingerprint(tokens_expr("text")).alias("fp")).collect()[0].fp
    assert isinstance(fp, int) and fp > 0


def test_pandas_udf_kernels_match_numpy_and_expr(spark):
    """§2.14 extension point (b): Arrow-batched pandas UDF kernels agree
    with numpy reference AND the array-native expression twin."""
    import math

    from go_html_transform_spark.functions import kernels as K

    rows = [(1, [1, 1, 2, 3]), (2, [5]), (3, []), (4, [7, 7, 7, 7])]
    df = spark.createDataFrame(rows, "id int, tokens array<int>")
    out = {
        r.id: (r.ent, r.ent_expr, r.rep)
        for r in df.select(
            "id",
            K.token_entropy("tokens").alias("ent"),
            K.entropy_expr("tokens").alias("ent_expr"),
            K.repetition_ratio("tokens").alias("rep"),
        ).collect()
    }
    # numpy/pure-python reference
    def ent(a):
        from collections import Counter

        n = len(a)
        return -sum((c / n) * math.log(c / n) for c in Counter(a).values()) if n else 0.0

    for i, toks in rows:
        assert abs(out[i][0] - ent(toks)) < 1e-9, i
        assert abs(out[i][1] - ent(toks)) < 1e-9, i  # expression twin agrees
    assert out[1][2] == 0.25 and out[4][2] == 0.75 and out[3][2] == 0.0


def test_minhash_arrow_kernel_matches_expression(spark):
    """The MinHash-16 Arrow kernel equals its DuckDB expression twin
    ``minhash_signature_sql`` element for element, including the
    empty-row sentinel, on literal rows and on real documents."""
    import duckdb

    from go_html_transform_spark.functions.kernels import minhash16_arrow
    from go_html_transform_spark.operators.dedup import minhash_signature_sql

    def twin(rows):
        con = duckdb.connect()
        con.execute("CREATE TABLE t (id BIGINT, tokens INTEGER[])")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        return {
            i: list(sig)
            for i, sig in con.execute(f"SELECT id, {minhash_signature_sql('tokens')} FROM t").fetchall()
        }

    rows = [(1, [5, 5, 900, 23]), (2, []), (3, [1023]), (4, list(range(200)))]
    df = spark.createDataFrame(rows, "id int, tokens array<int>")
    got = {r.id: list(r.sig) for r in df.select("id", minhash16_arrow(F.col("tokens")).alias("sig")).collect()}
    assert got == twin(rows)

    # and on real data
    doc = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seq = doc.select("doc_id", tokens_expr(F.col("text")).alias("tokens"))
    out = seq.select("doc_id", "tokens", minhash16_arrow(F.col("tokens")).alias("sig")).collect()
    assert len(out) > 100
    want = twin([(r.doc_id, list(r.tokens)) for r in out])
    assert {r.doc_id: list(r.sig) for r in out} == want


def test_minhash_kernel_widths_match_duckdb(spark):
    """The MinHash kernel at widths 8, 16 and 32 equals its DuckDB twin
    ``minhash_signature_sql`` element for element: negative ids hash
    with a truncating ``%``, NULL elements are skipped, and an empty or
    NULL array gets the sentinel in every slot."""
    import duckdb

    from go_html_transform_spark.operators.dedup import (
        minhash_signature,
        minhash_signature_sql,
    )

    rows = [
        (1, [5, 5, 900, 23]), (2, []), (3, None), (4, [-3, 5, -9]),
        (5, [-2147483648, 7]), (6, [1, None, -3]), (7, list(range(-100, 200))),
        (8, [2147483647]),
    ]
    df = spark.createDataFrame(rows, "id int, tokens array<int>")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, tokens INTEGER[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    for width in (8, 16, 32):
        got = {
            r.id: list(r.sig)
            for r in df.select("id", minhash_signature(F.col("tokens"), width).alias("sig")).collect()
        }
        want = {
            i: list(sig)
            for i, sig in con.execute(
                f"SELECT id, {minhash_signature_sql('tokens', width)} FROM t"
            ).fetchall()
        }
        assert got == want, width

    # a batch with a NULL element arrives as float64, which rounds ids
    # of magnitude >= 2^53: the kernel refuses it instead
    wide = spark.createDataFrame([(1, [2**60 + 1, None])], "id int, tokens array<bigint>")
    with pytest.raises(Exception, match="2\\^53"):
        wide.select(minhash_signature(F.col("tokens"))).collect()


def test_quality_score_ppm_matches_double_form(spark):
    """The exact-integer ppm form agrees with round(quality*1e6) within
    1 ppm on real documents (the 1-ppm slack is exactly the ROUND-tie
    band where the double form is cross-engine nondeterministic)."""
    doc = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = doc.select(
        TX.quality_score(F.col("text")).alias("q"),
        TX.quality_score_ppm(F.col("text")).alias("ppm"),
    ).collect()
    assert rows
    for r in rows:
        assert abs(r.ppm - round(r.q * 1e6)) <= 1, (r.q, r.ppm)
    # bounds + empty text
    one = spark.createDataFrame([("",), ("the the the",)], "text string").select(
        TX.quality_score_ppm(F.col("text")).alias("ppm")
    ).collect()
    assert all(0 <= r.ppm <= 1_000_000 for r in one)
    assert one[0].ppm == 0


def test_text_analysis_arrow_kernel_parity(spark):
    """The Arrow fast path must agree per-row with the expression twins
    (which are the DuckDB-oracle forms) on the driver corpus + dirty
    shapes."""
    from go_html_transform_spark.functions import kernels as K
    from go_html_transform_spark.sources.tables import documents_tokenized

    doc = documents_tokenized(spark, "/root/testdata/sf0.001").select("doc_id", "text")
    extra = spark.createDataFrame(
        [("x0", ""), ("x1", "   "), ("x2", "the the the und und"), ("x3", None)],
        "doc_id string, text string",
    )
    df = doc.unionByName(extra)
    both = df.select(
        "doc_id",
        K.text_analysis_arrow(F.col("text")).alias("k"),
        TX.lang_id(F.col("text")).alias("lang_pred"),
        TX.quality_score_ppm(F.col("text")).alias("quality_ppm"),
        TX.whitespace_token_count(F.col("text")).alias("ws_tokens"),
        TX.subword_token_count(F.col("text")).alias("subword_tokens"),
    ).collect()
    assert len(both) > 100
    for r in both:
        assert r.k.lang_pred == r.lang_pred, r.doc_id
        assert r.k.quality_ppm == r.quality_ppm, r.doc_id
        assert r.k.ws_tokens == r.ws_tokens, r.doc_id
        assert r.k.subword_tokens == r.subword_tokens, r.doc_id
