"""Physical-plan audit: render .explain('formatted') for the headline
operators into BENCH/PLANS.md, with the scale-critical property each plan
must exhibit stated next to it (the same properties tests/test_plans.py
asserts mechanically).

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _range_join_demo(spark, sf_dir):
    from pyspark.sql import functions as F

    from go_html_transform_spark.operators import rangejoin as RJ
    from go_html_transform_spark.sources import tables as S

    ev = S.load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", us.alias("click_us"))
        .withColumn("end_us", F.col("click_us") + F.lit(3600 * RJ.MICROS))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("purchase_us")
    )
    return RJ.range_join(
        purchases,
        clicks,
        on="user_id",
        probe_time_us="purchase_us",
        start_us="click_us",
        end_us="end_us",
        width_us=3600 * RJ.MICROS,
    )


def _star_join_demo(spark, sf_dir):
    from pyspark.sql import functions as F

    from go_html_transform_spark.sources import tables as S

    li = S.load_table(spark, sf_dir, "lineitem")
    orders = S.load_table(spark, sf_dir, "orders")
    cust = S.load_table(spark, sf_dir, "customer")
    nat = S.load_table(spark, sf_dir, "nation")
    reg = S.load_table(spark, sf_dir, "region")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(rev).alias("amount"), F.count("*").alias("n"))
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import functions as F

    from go_html_transform_spark.operators import dedup as D
    from go_html_transform_spark.operators import transforms as X
    from go_html_transform_spark.operators.asof import asof_join
    from go_html_transform_spark.operators.window import add_features
    from go_html_transform_spark.plans.pipeline import Transformer
    from go_html_transform_spark.session import get_spark
    from go_html_transform_spark.sources import tables as S

    spark = get_spark(app_name="plan-audit", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    seq = S.sequences(spark, sf_dir)
    lab = S.labels(spark, sf_dir)

    sections: list[tuple[str, str, object]] = [
        (
            "sequences scan (fact + dim join)",
            "MUST: BroadcastHashJoin (fact side never shuffles); dim filter "
            "pushed to the documents parquet scan; fact ReadSchema pruned to "
            "referenced columns. Auto-switches to salted SortMergeJoin when "
            "the dim outgrows the broadcast ceiling (second section below).",
            seq,
        ),
        (
            "sequences scan — forced large-dim branch",
            "MUST: SortMergeJoin keyed on (doc_key, __salt) — one hot "
            "doc_key cannot pin a single sort-merge partition; no broadcast "
            "of the big dim.",
            S.sequences(spark, sf_dir, dim_bytes=S.BROADCAST_DIM_MAX_BYTES + 1),
        ),
        (
            "rule transform (2 chained rules)",
            "MUST: zero Exchange, zero Sort — pure projection pipeline in "
            "one WholeStageCodegen stage; match expressions are array-native "
            "(array_contains guards around interpreted HOFs).",
            Transformer(seq)
            .apply("t982", lambda t, p: X.append_children(t, [1023]))
            .apply(
                "t756 > t982",
                lambda t, p: X.subtransform(
                    t, lambda tok: tok == 756, lambda tok: tok + 1
                ),
            )
            .df.select("doc_id", "tokens"),
        ),
        (
            "as-of join (union strategy, backward)",
            "MUST: exactly ONE Exchange hashpartitioning(doc_id) + ONE Sort; "
            "no Python operators (ArrowEvalPython/FlatMapGroupsInPandas "
            "absent) — wide payloads never cross into Python.",
            asof_join(
                seq.select("doc_id", "event_time", "event_id", "n_tok", "value"),
                lab,
                direction="backward",
            ),
        ),
        (
            "multi-table point-in-time enrichment (asof_join_many, 2 right tables)",
            "MUST: exactly ONE Exchange hashpartitioning(doc_id) + ONE Sort "
            "for ALL right tables together (the chained form pays one "
            "exchange+sort PER table); no Python operators.",
            __import__(
                "go_html_transform_spark.operators.asof", fromlist=["asof_join_many"]
            ).asof_join_many(
                seq.select("doc_id", "event_time", "event_id", "n_tok"),
                {
                    "lab": lab,
                    "hi": lab.filter(F.col("label_value") >= 50.0)
                    .withColumnRenamed("label_value", "v"),
                },
            ),
        ),
        (
            "windowed feature bundle after as-of",
            "MUST: the Window nodes REUSE the as-of exchange's partitioning "
            "— at most 2 hashpartitioning exchanges in the whole combined "
            "plan; every frame bounded at the current row (leak-free).",
            add_features(
                asof_join(
                    seq.select("doc_id", "event_time", "event_id", "n_tok", "value"),
                    lab,
                    direction="backward",
                )
            ),
        ),
        (
            "exact dedup (keep-first per content key)",
            "MUST: one PARTIAL-AGGREGATED exchange led by __kh = "
            "xxhash64(text) (map-side combine collapses duplicates before "
            "the shuffle); no Window/Sort — hot keys must not serialize.",
            D.exact_dedup(
                S.load_table(spark, sf_dir, "documents"), "doc_id", F.col("text")
            ),
        ),
        (
            "MinHash-LSH near-duplicate pairs",
            "MUST: the tiled band equi-join on (band, __ti, __tj) is the "
            "ONLY join over candidates (never an all-pairs cross join); the "
            "band and tile exchanges and the verify joins are "
            "REPARTITION_BY_NUM (user-keyed, never AQE-coalesced); the "
            "signatures are the Arrow MinHash-16 kernel (ArrowEvalPython).",
            D.minhash_near_duplicates(
                S.documents_tokenized(spark, sf_dir), "doc_id", threshold=0.9
            ),
        ),
        (
            "bucketized range join (purchases into 1h click windows)",
            "MUST: SortMergeJoin/ShuffledHashJoin keyed on (user_id, __bk) "
            "— the time predicate rides the SHUFFLE KEY; no "
            "BroadcastNestedLoopJoin/CartesianProduct anywhere; interval "
            "fan-out bounded at ceil(L/w)+1 = 2 rows per interval.",
            _range_join_demo(spark, sf_dir),
        ),
    ]

    from go_html_transform_spark.operators import sketches as SK

    doc = S.documents_tokenized(spark, sf_dir)
    sections += [
        (
            "bigram counts (corpus statistics)",
            "MUST: zero HOF lambdas before the aggregation (posexplode + "
            "element_at on a materialized attribute — the transform-lambda "
            "capture form re-evaluates the filtered array per element); "
            "exactly one Exchange, partial-aggregated map-side.",
            SK.bigram_counts(doc),
        ),
        (
            "count-min sketch",
            "MUST: one Exchange whose key space is depth*width cells — the "
            "shuffled and final state is CONSTANT in corpus and vocabulary "
            "size; partial HashAggregate before the exchange.",
            SK.count_min_sketch(doc),
        ),
        (
            "KMV distinct-count sketch over 3-gram shingles",
            "MUST: groupBy(h) partial aggregation dedups map-side, then "
            "TakeOrderedAndProject(k) — never a global Sort.",
            SK.kmv_sketch(doc, D.shingles3(F.col("tokens"))),
        ),
    ]

    from go_html_transform_spark.functions import redact as RD
    from go_html_transform_spark.functions import repetition as REPK
    from go_html_transform_spark.operators import similarity as SIM
    from go_html_transform_spark.operators.window import decayed_bucket_counts

    emb = S.load_table(spark, sf_dir, "embeddings")
    sections += [
        (
            "repetition filters + PII redaction (per-document quality layer)",
            "MUST: zero Exchange — the whole layer is a projection over the "
            "scan (row-local sorted-run decomposition + codegen'd "
            "regexp_replace chain); no Python in this expression form (the "
            "Arrow kernel twin is the production fast path).",
            REPK.with_repetition(
                REPK.with_repetition(
                    doc.select("doc_id", "text", "tokens"), "tokens", 2
                ),
                "tokens",
                3,
            ).withColumn("pii_hits", RD.pii_hits(F.col("text"))),
        ),
        (
            "decayed counter feature (strictly-prior buckets)",
            "MUST: ONE Exchange hashpartitioning(doc_id) + ONE Sort; all "
            "horizon RANGE [-d,-d] frames collapse into a single Window "
            "node; no self-join.",
            decayed_bucket_counts(
                seq.select("doc_id", "event_time", "event_id"),
                bucket_seconds=1800,
                horizon=4,
            ),
        ),
        (
            "exact histogram quantiles (bounded domain)",
            "MUST: the corpus is exchanged ONCE (histogram partial agg); "
            "the cumsum window runs over |domain| rows (the single-"
            "partition Window is a few-KB step, never a corpus sort).",
            SK.value_quantiles(seq.select("n_tok"), "n_tok"),
        ),
        (
            "TPC-H-Q5-shaped star join (revenue per region/nation)",
            "MUST: nation/region dims BroadcastHashJoin; the fact->orders "
            "join shuffles on the 8-byte orderkey (SortMergeJoin/"
            "ShuffledHashJoin at scale; broadcast at this SF is also "
            "acceptable); no CartesianProduct/NestedLoop anywhere; final "
            "aggregate partial map-side.",
            _star_join_demo(spark, sf_dir),
        ),
        (
            "PQ encode (product quantization)",
            "MUST: zero Exchange, zero Python — per-subspace argmin-L2 over "
            "literal codebooks as struct array_min inside one projection.",
            SIM.pq_encode(emb, SIM.pq_codebooks(emb)).select(
                "vec_id", "pq_code"
            ),
        ),
    ]

    from go_html_transform_spark.operators import bloom as BL
    from go_html_transform_spark.operators import classifier as CL
    from go_html_transform_spark.operators import decontaminate as DC
    from go_html_transform_spark.operators import retrieval as RET
    from go_html_transform_spark.operators import selection as SEL

    emb_d = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    sem_cents = SIM.ivf_centroids(emb_d, k=8)
    bm25_q = [(0, [982, 756, 310]), (1, [923, 819, 607, 147])]
    bloom_corpus = doc.select(
        "doc_id", DC.ngram_hashes(F.col("tokens"), 8).alias("ngram_hashes")
    )
    bloom_ev = (
        doc.filter(F.substring("doc_id", 2, 16).cast("int") % 50 == 0)
        .select(F.explode(DC.ngram_hashes(F.col("tokens"), 8)).alias("h"))
        .distinct()
    )
    sections += [
        (
            "BM25 top-k retrieval (integer-exact path)",
            "MUST: the ONLY corpus-sized Exchange is the postings partial "
            "agg keyed (doc, token); the probe query set and the vocab-"
            "bounded df dimension join as BroadcastHashJoin; the per-query "
            "top-k window runs over matched candidates only, partitioned "
            "by query_id — never a global sort of the corpus.",
            RET.bm25_int_topk(doc.select("doc_id", "tokens"), bm25_q, topk=10),
        ),
        (
            "DSIR importance weights",
            "MUST: the feature-count exchange is bucket-keyed with output "
            "BOUNDED at 1024 rows; the milli-nat log-ratio table re-joins "
            "the corpus as BroadcastHashJoin; the weight aggregation is a "
            "doc-keyed partial agg; no Python anywhere.",
            SEL.dsir_weights(doc, F.col("lang") == "en"),
        ),
        (
            "SemDeDup within-cluster pairs",
            "MUST: the pairs come from one FlatMapGroupsInPandas task per "
            "(cid, __ti, __tj), the tiled cell, scored by the cosine "
            "kernel — NEVER a CartesianProduct/BroadcastNestedLoop or a "
            "pair join; the cell sizes are a Window on the cell-keyed "
            "exchange (no count joined back); the assignment is one "
            "zero-shuffle ArrowEvalPython pass against the codebook.",
            D.semantic_dup_pairs(emb_d, sem_cents, threshold=0.4),
        ),
        (
            "Bloom pre-filtered decontamination counts",
            "MUST: the corpus side reaches the bloom probe with NO "
            "exchange (array_distinct + explode are row-local; the folded "
            "words row joins via single-row BroadcastExchange); only "
            "post-probe candidates are exchanged (doc-keyed counts); the "
            "exact verify is a broadcast LEFT SEMI.",
            BL.bloom_prefilter_contaminated(bloom_corpus, bloom_ev),
        ),
        (
            "quality-classifier scoring (fixed-point logistic)",
            "MUST: weights are inline literals (no join for the model); "
            "exchanges are the (doc, bucket) feature partial agg and the "
            "doc-keyed margin sum — both partial-aggregated; the margin "
            "crosses the exchange as int64 micro-units (bit-deterministic).",
            CL.score_logistic_hashed(
                doc.select("doc_id", "tokens"), [0.0] * 1024, 0.0
            ),
        ),
    ]

    lines = [
        "# BENCH/PLANS.md — physical-plan audit of the headline operators",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}`. Each section",
        "states the scale-critical property the plan MUST exhibit (the same",
        "properties tests/test_plans.py asserts mechanically on every run),",
        "followed by the actual `.explain('formatted')` output.",
        "",
    ]
    for title, must, df in sections:
        lines += [f"## {title}", "", must, "", "```", formatted(df).rstrip(), "```", ""]

    out = os.path.join(REPO, "BENCH", "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
