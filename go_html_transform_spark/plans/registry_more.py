"""Registry extension 3: the remaining SURVEY.md §2 line items as
oracle-checked queries — prepend/remove/replace mutation ops
(transform.go:169-201), pseudo-class position predicates
(css/selector/data.go:136-145), the reference-TODO attr substring matchers
(parse.go:104), set operations over match sets (§2.8), rollup aggregation,
top-k, and the brute-force embedding near-dup pass (training-data op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_html_transform_spark.operators import dedup as D
from go_html_transform_spark.operators.similarity import (
    cosine_sql as _cos,
    ivfpq_encode_cte_sql as _ivfpq_sql,
    lloyd_cte_sql as _lloyd_sql,
    lsh_bucket_sql as _lsh_sql,
    pq_encode_cte_sql as _pq_sql,
    seeded_assign_cte_sql as _assign_sql,
)
from go_html_transform_spark.plans.pipeline import Transformer
from go_html_transform_spark.plans.registry import _cte, register
from go_html_transform_spark.sources import tables as S


# ---------------------------------------------------------------------------
# §2.4 pseudo-class predicates (data.go:136-145)
# ---------------------------------------------------------------------------


@register(
    "match_pseudo_classes",
    _cte(
        """
        SELECT 'first_child' AS variant, event_id FROM seq WHERE tokens[1] = 982
        UNION ALL
        SELECT 'last_child' AS variant, event_id
        FROM seq WHERE tokens[len(tokens)] = 982
        UNION ALL
        SELECT 'root' AS variant, event_id FROM seq WHERE tokens[1] = 756
        UNION ALL
        SELECT 'only_child' AS variant, event_id
        FROM seq WHERE len(tokens) = 1 AND tokens[1] = 982
        UNION ALL
        SELECT 'empty' AS variant, event_id FROM seq WHERE len(tokens) = 0
        """
    ),
)
def match_pseudo_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every pseudo-class predicate (data.go:136-145) in one hash-checked
    union:

    * first_child — `t982:first-child`: 982 at position 0
      (Parent.FirstChild == n, data.go:138-139)
    * last_child — `t982:last-child`: 982 at the final position
      (Parent.LastChild == n, data.go:140-141)
    * root — `t756:root`: no-parent in the flat model = position 0
      (data.go:136-137)
    * only_child — `t982:only-child`: 982 as the single token
      (data.go:142-143)
    * empty — `*:empty`: zero-token sequences (data.go:144-145); this
      corpus has none, so the variant pins the zero-match contract
    """
    seq = S.sequences(spark, sf_dir)
    tr = Transformer(seq)
    parts = [
        ("first_child", "t982:first-child"),
        ("last_child", "t982:last-child"),
        ("root", "t756:root"),
        ("only_child", "t982:only-child"),
        ("empty", "*:empty"),
    ]
    out = None
    for tag, rule in parts:
        m = tr.matched(rule).select(F.lit(tag).alias("variant"), "event_id")
        out = m if out is None else out.unionByName(m)
    return out


# ---------------------------------------------------------------------------
# §2.4 attr substring matchers — tokenized but unparsed in the reference
# (TODO css/selector/parse.go:104); first-class here
# ---------------------------------------------------------------------------


@register(
    "match_attr_substring_ops",
    _cte(
        """
        SELECT event_id, 'prefix' AS op FROM seq
        WHERE json_extract_string(props, '$.k') LIKE '6%'
        UNION ALL
        SELECT event_id, 'suffix' AS op FROM seq
        WHERE json_extract_string(props, '$.k') LIKE '%9'
        UNION ALL
        SELECT event_id, 'substring' AS op FROM seq
        WHERE json_extract_string(props, '$.k') LIKE '%2%'
        """
    ),
)
def match_attr_substring_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`[k^=6]` / `[k$=9]` / `[k*=2]` over the props attr map — the ^= $= *=
    modes the reference tokenizes (tokenizer.go:467-472) but never parses."""
    seq = S.sequences(spark, sf_dir).withColumn(
        "attrs", F.from_json("props", "map<string,string>")
    )
    tr = Transformer(seq, attrs_col="attrs")
    parts = [
        tr.matched("[k^=6]").select("event_id", F.lit("prefix").alias("op")),
        tr.matched("[k$=9]").select("event_id", F.lit("suffix").alias("op")),
        tr.matched("[k*=2]").select("event_id", F.lit("substring").alias("op")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# §2.8 set operations over match sets
# ---------------------------------------------------------------------------


@register(
    "match_set_intersect_except",
    _cte(
        """
        SELECT event_id, 'both' AS tag FROM (
            SELECT event_id FROM seq WHERE list_contains(tokens, 982)
            INTERSECT
            SELECT event_id FROM seq WHERE list_contains(tokens, 756)
        )
        UNION ALL
        SELECT event_id, 'only_982' AS tag FROM (
            SELECT event_id FROM seq WHERE list_contains(tokens, 982)
            EXCEPT
            SELECT event_id FROM seq WHERE list_contains(tokens, 756)
        )
        """
    ),
)
def match_set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect/exceptAll over two rules' match sets — the set-op layer the
    reference lacks (SURVEY §2.8 'absent')."""
    seq = S.sequences(spark, sf_dir)
    tr = Transformer(seq)
    a = tr.matched("t982").select("event_id")
    b = tr.matched("t756").select("event_id")
    return a.intersect(b).withColumn("tag", F.lit("both")).unionByName(
        a.exceptAll(b).withColumn("tag", F.lit("only_982"))
    )


# ---------------------------------------------------------------------------
# §2.6 rollup aggregation + §2.8 top-k
# ---------------------------------------------------------------------------


@register(
    "agg_rollup_source_lang",
    _cte(
        """
        SELECT source, lang, COUNT(*) AS n, CAST(SUM(n_tok) AS BIGINT) AS sum_n_tok
        FROM seq GROUP BY ROLLUP (source, lang)
        """
    ),
)
def agg_rollup_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (source -> lang -> grand total) — partial
    map-side aggregation, one shuffle."""
    seq = S.sequences(spark, sf_dir)
    return seq.rollup("source", "lang").agg(
        F.count("*").alias("n"), F.sum("n_tok").alias("sum_n_tok")
    )


@register(
    "topk_longest_sequences",
    _cte(
        """
        SELECT 'global' AS variant, CAST(NULL AS VARCHAR) AS grp,
               event_id, n_tok
        FROM (SELECT event_id, n_tok FROM seq
              ORDER BY n_tok DESC, event_id LIMIT 20)
        UNION ALL
        SELECT 'per_source', source, event_id, n_tok FROM (
            SELECT source, event_id, n_tok,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY n_tok DESC, event_id) AS rk
            FROM seq
        ) WHERE rk <= 3
        """
    ),
)
def topk_longest_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k matrix:

    * global — orderBy+limit: physical plan is TakeOrderedAndProject
      (per-partition heaps + driver merge), never a global sort.
    * per_source — top-3 per group via a ranked window: ONE exchange on
      the group key; at 10^12 rows the rank's sort is per-group-bounded
      and AQE splits skewed groups (never a driver-side collect of
      anything but the final k x |groups| rows).
    """
    from pyspark.sql import Window as _W

    seq = S.sequences(spark, sf_dir)
    g = (
        seq.select("event_id", "n_tok")
        .orderBy(F.col("n_tok").desc(), "event_id")
        .limit(20)
        .select(
            F.lit("global").alias("variant"),
            F.lit(None).cast("string").alias("grp"),
            "event_id",
            "n_tok",
        )
    )
    w = _W.partitionBy("source").orderBy(F.col("n_tok").desc(), "event_id")
    p = (
        seq.select("source", "event_id", "n_tok")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.lit("per_source").alias("variant"),
            F.col("source").alias("grp"),
            "event_id",
            "n_tok",
        )
    )
    return g.unionByName(p)


# ---------------------------------------------------------------------------
# training-data op: brute-force embedding cosine near-dup pairs
# ---------------------------------------------------------------------------


# seeded k=8 coarse assignment (semc/sema) + within-cluster pairs (semp)
_SEM_ASSIGN_CTE = f"""
    {_assign_sql("semc", "sema")},
    semp AS (
      SELECT aa.vec_id AS id_a, bb.vec_id AS id_b,
             {_cos('ea.embedding', 'eb.embedding')} AS c
      FROM sema aa JOIN sema bb
        ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
      JOIN embeddings ea ON ea.vec_id = aa.vec_id
      JOIN embeddings eb ON eb.vec_id = bb.vec_id)
"""


def _emb_lsh_bands_sql(n_planes: int = 6, tables: int = 2) -> str:
    keys = ", ".join(
        f"'{t}-' || CAST({_lsh_sql('CAST(embedding AS DOUBLE[])', n_planes, t * n_planes)} AS VARCHAR)"
        for t in range(tables)
    )
    return f"SELECT vec_id, unnest([{keys}]) AS band FROM embeddings"


@register(
    "dedup_embedding_pairs",
    f"""
    WITH ebands AS ({_emb_lsh_bands_sql(6, 2)}),
    ecand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM ebands a JOIN ebands b
          ON a.band = b.band AND a.vec_id < b.vec_id
    ),
    {_SEM_ASSIGN_CTE}
    SELECT 'brute' AS variant, id_a, id_b, ROUND(c, 6) AS cos FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_cos('a.embedding', 'b.embedding')} AS c
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
    ) WHERE c >= 0.4
    UNION ALL
    SELECT 'lsh_bucketed' AS variant, id_a, id_b, ROUND(c, 6) AS cos FROM (
        SELECT ecand.id_a, ecand.id_b,
               {_cos('ea.embedding', 'eb.embedding')} AS c
        FROM ecand
        JOIN embeddings ea ON ea.vec_id = ecand.id_a
        JOIN embeddings eb ON eb.vec_id = ecand.id_b
    ) WHERE c >= 0.4
    UNION ALL
    SELECT 'semdedup_pairs' AS variant, id_a, id_b, ROUND(c, 6) AS cos
    FROM semp WHERE c >= 0.4
    UNION ALL
    SELECT 'semdedup_keep' AS variant, e.vec_id AS id_a,
           CAST(sema.cid AS BIGINT) AS id_b,
           ROUND({_cos('e.embedding', 'semc.cvec')}, 6) AS cos
    FROM embeddings e
    JOIN sema ON sema.vec_id = e.vec_id
    JOIN semc ON semc.cid = sema.cid
    WHERE e.vec_id NOT IN (SELECT id_b FROM semp WHERE c >= 0.4)
    """,
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, BOTH paths hash-checked in
    one union:

    * brute — O(n^2) cross-join baseline (correctness reference only;
      never point it at a large corpus).
    * lsh_bucketed — the scale path: 2 independent sign-LSH tables x 6
      hyperplanes bucket the corpus, candidates are same-bucket pairs
      (one explode + one equi-join, ~5% of all-pairs on this corpus),
      verified by true cosine >= threshold. A subset of `brute` by
      construction — recall is the LSH trade; the oracle replicates the
      exact candidate set so the check is exact, not recall-fuzzy.

    * semdedup_pairs / semdedup_keep — SemDeDup (Abbas et al. 2023):
      seeded k=8 coarse assignment (zero-shuffle ``ivf_assign``), dup
      pairs compared ONLY within a cluster (equi-join on centroid_id —
      sum_c |c|^2 instead of n^2), keep-set = greedy-by-id anti-join with
      cosine-to-own-centroid as the ranking signal. Seeded centroids are
      the oracle anchor; production swaps in the Lloyd-trained codebook.

    Threshold on the RAW similarity; output rounded to 6 decimals for the
    cross-engine hash."""
    from go_html_transform_spark.operators import similarity as SIM

    emb = S.load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )  # float math widened BEFORE multiply, matching the oracle's CASTs
    brute = D.embedding_near_duplicates(emb, threshold=0.4).select(
        F.lit("brute").alias("variant"), "id_a", "id_b", "cos"
    )
    lsh = D.embedding_lsh_near_duplicates(
        emb, threshold=0.4, n_planes=6, tables=2
    ).select(F.lit("lsh_bucketed").alias("variant"), "id_a", "id_b", "cos")
    cents = SIM.ivf_centroids(emb, k=8)
    semp = D.semantic_dup_pairs(emb, cents, threshold=0.4).select(
        F.lit("semdedup_pairs").alias("variant"), "id_a", "id_b", "cos"
    )
    semk = D.semantic_dedup_keep(emb, cents, threshold=0.4).select(
        F.lit("semdedup_keep").alias("variant"),
        F.col("vec_id").alias("id_a"),
        F.col("cid").cast("long").alias("id_b"),
        F.col("cos_centroid").alias("cos"),
    )
    return brute.unionByName(lsh).unionByName(semp).unionByName(semk)


# ---------------------------------------------------------------------------
# IVF ANN — deterministic seed codebook, fully oracle-checkable
# ---------------------------------------------------------------------------

_IVF_ASSIGN_CTE = _assign_sql("c", "a")
_LSH_BUCKET = _lsh_sql("embedding", 8)
_LLOYD_BODY, _LLOYD_FINAL = _lloyd_sql(k=8, iters=2, dim=64)
# pq_encode_cte_sql returns "pqc AS (...), pqe AS (...)" — strip for WITH
_PQ_ENCODE_CTE = _pq_sql(m=4, ksub=16, dim=64).strip()
_IVFPQ_ENCODE_CTE = _ivfpq_sql(m=4, ksub=16, dim=64).strip()


@register(
    "sim_bucket_stats",
    f"""
    WITH {_IVF_ASSIGN_CTE},
    {_LLOYD_BODY},
    {_PQ_ENCODE_CTE},
    {_IVFPQ_ENCODE_CTE}
    SELECT 'ivf' AS variant, CAST(cid AS INTEGER) AS bucket, COUNT(*) AS n
    FROM a GROUP BY cid
    UNION ALL
    SELECT 'lsh' AS variant, CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS n
    FROM (
        SELECT {_LSH_BUCKET} AS bucket FROM embeddings
    ) GROUP BY bucket
    UNION ALL
    SELECT 'ivf_lloyd2' AS variant, CAST(cid AS INTEGER) AS bucket, COUNT(*) AS n
    FROM {_LLOYD_FINAL} GROUP BY cid
    UNION ALL
    SELECT 'pq' AS variant, CAST(j * 16 + code AS INTEGER) AS bucket,
           COUNT(*) AS n
    FROM pqe GROUP BY 1, 2
    UNION ALL
    SELECT 'ivfpq' AS variant,
           CAST(cid * 65536 + pq_code AS INTEGER) AS bucket, COUNT(*) AS n
    FROM ipqp GROUP BY 1, 2
    """,
)
def sim_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All ANN partitioning layouts, hash-checked in one union:

    * ivf — seeded IVF coarse quantization: zero-shuffle literal-codebook
      argmax assignment (operators/similarity.py:ivf_assign) ->
      cluster-size histogram. At production scale this feeds a
      bucket(centroid_id)-partitioned layout for partition-pruned probes.
    * ivf_lloyd2 — the same layout after 2 exact Lloyd iterations
      (iterative k-means with fixed-point element-wise means: BIGINT sums
      are order-independent, so the refined codebook — and therefore the
      assignment — is bit-identical in DuckDB; see
      similarity.lloyd_refine).
    * lsh — sign-LSH bucket histogram (8 deterministic hyperplanes -> 256
      buckets), the bucketed ANN scale path's partitioning.
    * pq — product-quantization code histogram per (subspace, code):
      4 subspaces x 16 codes (seeded per-subspace codebooks, argmin-L2
      struct-min — similarity.pq_encode). The encode is the zero-shuffle
      map pass that compresses 256 B/vector to 2 B for ADC scans; the
      histogram hash-checks the full encoding against DuckDB.
    """
    from go_html_transform_spark.operators import similarity as SIM

    emb = S.load_table(spark, sf_dir, "embeddings")
    cents = SIM.ivf_centroids(emb, k=8)
    ivf = (
        SIM.ivf_assign(emb, cents)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("ivf").alias("variant"),
            F.col("centroid_id").cast("int").alias("bucket"),
            "n",
        )
    )
    lsh = (
        emb.select(
            SIM.lsh_bucket(F.col("embedding").cast("array<double>"), 8).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("lsh").alias("variant"),
            F.col("bucket").cast("int").alias("bucket"),
            "n",
        )
    )
    lloyd = (
        SIM.ivf_assign(emb, SIM.ivf_lloyd_centroids(emb, k=8, iters=2))
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("ivf_lloyd2").alias("variant"),
            F.col("centroid_id").cast("int").alias("bucket"),
            "n",
        )
    )
    pq = (
        SIM.pq_encode(emb, SIM.pq_codebooks(emb), codes_col="__codes")
        .select(F.posexplode("__codes").alias("j", "code"))
        .groupBy("j", "code")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("pq").alias("variant"),
            (F.col("j") * 16 + F.col("code")).cast("int").alias("bucket"),
            "n",
        )
    )
    enc, _books = SIM.ivfpq_encode(emb, cents)
    ivfpq = (
        enc.groupBy("centroid_id", "pq_code")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("ivfpq").alias("variant"),
            (F.col("centroid_id") * 65536 + F.col("pq_code"))
            .cast("int")
            .alias("bucket"),
            "n",
        )
    )
    return (
        ivf.unionByName(lsh)
        .unionByName(lloyd)
        .unionByName(pq)
        .unionByName(ivfpq)
    )


@register(
    "sim_topk_matrix",
    f"""
    WITH {_IVF_ASSIGN_CTE},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    probes AS (
      SELECT cid FROM (
        SELECT c.cid,
               ROW_NUMBER() OVER (
                 ORDER BY {_cos('c.cvec', 'q.qv')} DESC, c.cid
               ) AS rk
        FROM c CROSS JOIN q
      ) WHERE rk <= 2),
    ivf AS (
      SELECT vec_id, cos FROM (
        SELECT e.vec_id,
               ROUND({_cos('e.embedding', 'q.qv')}, 6) AS cos
        FROM embeddings e
        JOIN a ON a.vec_id = e.vec_id
        CROSS JOIN q
        WHERE a.cid IN (SELECT cid FROM probes)
      ) ORDER BY cos DESC, vec_id LIMIT 10),
    brute AS (
      SELECT vec_id, cos FROM (
        SELECT e.vec_id,
               ROUND({_cos('e.embedding', 'q.qv')}, 6) AS cos
        FROM embeddings e CROSS JOIN q
      ) ORDER BY cos DESC, vec_id LIMIT 10),
    lb AS (
      SELECT vec_id, embedding, {_LSH_BUCKET} AS bucket FROM embeddings),
    qb AS (SELECT bucket, embedding AS qv FROM lb WHERE vec_id = 0),
    lsh AS (
      SELECT vec_id, cos FROM (
        SELECT e.vec_id,
               ROUND({_cos('e.embedding', 'q.qv')}, 6) AS cos
        FROM lb e, qb q
        WHERE bit_count(xor(CAST(e.bucket AS BIGINT), CAST(q.bucket AS BIGINT))) <= 1
      ) ORDER BY cos DESC, vec_id LIMIT 10)
    SELECT 'brute' AS variant, * FROM brute
    UNION ALL SELECT 'lsh' AS variant, * FROM lsh
    UNION ALL SELECT 'ivf' AS variant, * FROM ivf
    """,
)
def sim_topk_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three ANN strategies' top-10 for the vec_id=0 query in one
    hash-checked union:

    * brute — exact cosine scan (single stage, TakeOrderedAndProject —
      no global sort): the correctness baseline
    * lsh — candidates restricted to the query's sign-LSH bucket plus
      Hamming-1 multiprobe neighbors: the bucketed scale path
    * ivf — probe the 2 nearest of 8 coarse clusters, exact-score the
      candidates: the partition-pruned scale path
    """
    from go_html_transform_spark.operators import similarity as SIM

    emb = S.load_table(spark, sf_dir, "embeddings")
    cents = SIM.ivf_centroids(emb, k=8)
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0].embedding
    parts = [
        ("brute", SIM.cosine_topk(emb, list(q), k=10)),
        ("lsh", SIM.lsh_topk(emb, list(q), k=10, n_planes=8, multiprobe=True)),
        ("ivf", SIM.ivf_topk(emb, list(q), cents, k=10, nprobe=2)),
    ]
    out = None
    for tag, df in parts:
        t = df.select(F.lit(tag).alias("variant"), "vec_id", "cos")
        out = t if out is None else out.unionByName(t)
    return out


# ---------------------------------------------------------------------------
# §2.4 remaining simple selectors: universal, id, :root
# ---------------------------------------------------------------------------


@register(
    "match_simple_selectors",
    _cte(
        """
        SELECT 'universal' AS variant, event_id,
               n_tok AS n_matches, 0 AS first_pos
        FROM seq WHERE n_tok > 0
        UNION ALL
        SELECT 'id' AS variant, event_id,
               CAST(NULL AS INTEGER) AS n_matches,
               CAST(NULL AS INTEGER) AS first_pos
        FROM seq
        WHERE doc_id = 'd000007' AND list_contains(tokens, 982)
        """
    ),
)
def match_simple_selectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of the two remaining simple selectors (one registry slot,
    both variants hash-checked):

    * universal `*` (data.go:20-21): every position matches — the
      full-scan Sequence.Find with an always-true predicate.
    * id `t982#d000007` (data.go:155-158): row-level doc_id equality
      conjoined with the tag predicate.
    """
    seq = S.sequences(spark, sf_dir)
    uni = (
        Transformer(seq)
        .matched("*")
        .select(
            F.lit("universal").alias("variant"),
            F.col("event_id"),
            F.size("match_pos").alias("n_matches").cast("int"),
            F.element_at("match_pos", 1).alias("first_pos"),
        )
    )
    by_id = (
        Transformer(seq)
        .matched("t982#d000007")
        .select(
            F.lit("id").alias("variant"),
            F.col("event_id"),
            F.lit(None).cast("int").alias("n_matches"),
            F.lit(None).cast("int").alias("first_pos"),
        )
    )
    return uni.unionByName(by_id)


# NOTE: match_pseudo_root folded into match_pseudo_classes above.


# ---------------------------------------------------------------------------
# strict as-of (allow_exact_matches=False) + insert_before + keep-first dedup
# ---------------------------------------------------------------------------


# NOTE: asof_backward_strict / asof_forward_tolerance / asof_nearest_tolerance
# moved into registry.py's asof_tolerance_matrix union query (driver checks at
# most 50 queries; the matrix keeps every variant hash-checked in one slot).


@register(
    "dedup_exact_keep_first",
    """
    SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rk
        FROM documents
    ) WHERE rk = 1
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact_dedup: keep the min-id representative per content key (the
    Chain.Find identity-set dedup, data.go:330-343, lifted to corpus
    scale). One partial-agg exchange led by xxhash64(text) — duplicates
    collapse map-side, hot keys cannot serialize a task — with the raw
    key alongside in the grouping so hash collisions stay correct (see
    operators/dedup.exact_dedup; plan-asserted in tests/test_plans.py)."""
    from go_html_transform_spark.operators.dedup import exact_dedup

    doc = S.load_table(spark, sf_dir, "documents")
    kept = exact_dedup(doc, "doc_id", F.col("text"))
    return kept.select("doc_id")

