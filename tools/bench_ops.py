"""Per-operator benchmark for the training-data ops (the north-star
bench.py measures the transform→as-of→window pipeline; this measures the
dedup / similarity / text / layout operators) at sf0.1 on local[32].

Replication policy: scan-shaped ops (signatures, text analysis, shard
assignment, exact dedup) replicate documents x`REP` with unique doc_ids
so throughput is measured at millions of rows. PAIR-shaped ops (LSH
near-dup joins) run on the RAW corpus — replicating identical documents
would square the true-duplicate pair count and measure an artifact.
range_join / resample replicate events x`REP` entity-suffixed, like
bench.py.

Usage: python tools/bench_ops.py [sf_dir] — prints one JSON line and
rewrites BENCH/OPS.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

REP = int(os.environ.get("SPARK_GRAFT_OPS_REPLICATE", "100"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from go_html_transform_spark.functions import text as TX
    from go_html_transform_spark.operators import dedup as D
    from go_html_transform_spark.operators import rangejoin as RJ
    from go_html_transform_spark.operators import sharding as SH
    from go_html_transform_spark.session import get_spark
    from go_html_transform_spark.sources import tables as S

    spark = get_spark(
        app_name="bench-ops",
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_PARTITIONS", "128")),
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
            "spark.shuffle.compress": "false",
            "spark.shuffle.spill.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm

    # --- inputs -----------------------------------------------------------
    doc_raw = (
        S.documents_tokenized(spark, sf_dir)
        .repartition(32)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_doc_raw = doc_raw.count()

    r = spark.range(REP).select(F.col("id").alias("__rep"))
    # The 5k-row documents parquet is a single scan split, and the
    # broadcast crossJoin preserves the fact side's partitioning — without
    # an explicit repartition every scan-shaped op below would run as ONE
    # task on one of the 32 cores (discovered via jstack on a "stuck"
    # run). One exchange here, before the persist, parallelizes them all.
    doc_big = (
        doc_raw.crossJoin(F.broadcast(r))
        .withColumn("doc_id", F.concat("doc_id", F.lit("#"), F.col("__rep")))
        .withColumn("doc_key", F.col("doc_key") * REP + F.col("__rep"))
        .drop("__rep")
        .repartition(128)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_doc_big = doc_big.count()

    emb = (
        S.load_table(spark, sf_dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_emb = emb.count()

    ev = S.load_table(spark, sf_dir, "events")
    ev_big = (
        ev.crossJoin(F.broadcast(r))
        .withColumn("user_id", F.col("user_id") * REP + F.col("__rep"))
        .drop("__rep")
        .select("user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
                "event_type", "value")
        .repartition(128)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_ev_big = ev_big.count()

    timings: dict[str, float] = {}
    sizes: dict[str, int] = {}

    def timed(name: str, n_rows: int, fn, iters: int = 3) -> None:
        # long pair-join ops run once: a multi-minute stage amortizes JIT/
        # GC noise by itself, and 3x would blow the harness budget
        best = None
        for _ in range(iters):
            jvm.System.gc()
            time.sleep(1)
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        sizes[name] = n_rows
        print(f"  {name}: {best:.1f}s", file=sys.stderr)

    def drain(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # --- scan-shaped (replicated corpus) ---------------------------------
    timed("text_analysis", n_doc_big, lambda: drain(
        doc_big.select(
            "doc_id",
            TX.lang_id(F.col("text")).alias("lang"),
            TX.quality_score_ppm(F.col("text")).alias("q"),
            TX.whitespace_token_count(F.col("text")).alias("ws"),
            TX.subword_token_count(F.col("text")).alias("sub"),
            TX.regex_token_count(F.col("text")).alias("re"),
            TX.fingerprint(F.col("tokens")).alias("fp"),
        )
    ))
    timed("signatures", n_doc_big, lambda: drain(
        doc_big.select(
            "doc_id",
            D.minhash_signature(F.col("tokens"), 16).alias("mh"),
            D.simhash16(F.col("tokens")).alias("sh"),
        )
    ))
    # Arrow-kernel fast path of the text analysis (the expression forms
    # above are the DuckDB-oracle twins; parity pinned in tests)
    from go_html_transform_spark.functions import kernels as K

    timed("text_analysis_kernel", n_doc_big, lambda: drain(
        doc_big.select("doc_id", K.text_analysis_arrow(F.col("text")).alias("ta"))
    ))
    timed("shard_assign", n_doc_big, lambda: drain(
        SH.assign_shards(doc_big.select("doc_id", "doc_key"), F.col("doc_key"), 1024)
    ))
    timed("exact_dedup", n_doc_big, lambda: drain(
        D.exact_dedup(doc_big, "doc_id", F.col("text"))
    ))

    from go_html_transform_spark.functions import redact as RD
    from go_html_transform_spark.functions import repetition as REPK

    timed("repetition_filters", n_doc_big, lambda: drain(
        REPK.with_repetition(
            REPK.with_repetition(doc_big.select("doc_id", "tokens"), "tokens", 2),
            "tokens", 3,
        )
    ))
    timed("repetition_kernel", n_doc_big, lambda: drain(
        doc_big.select("doc_id", K.repetition_arrow(F.col("tokens")).alias("r"))
    ))
    timed("pii_redact", n_doc_big, lambda: drain(
        doc_big.select(
            "doc_id",
            RD.redact_pii(F.col("text")).alias("red"),
            RD.pii_hits(F.col("text")).alias("hits"),
        )
    ))

    # --- corpus statistics / sketches (explode-heavy: throughput is docs/s
    # over the replicated corpus; shuffle is vocab- or sketch-bounded) ----
    from go_html_transform_spark.operators import sketches as SK

    timed("token_frequencies", n_doc_big, lambda: drain(
        SK.token_frequencies(doc_big)
    ))
    timed("bigram_counts", n_doc_big, lambda: drain(
        SK.bigram_counts(doc_big)
    ))
    timed("count_min_sketch", n_doc_big, lambda: drain(
        SK.count_min_sketch(doc_big)
    ))
    timed("kmv_distinct_shingles", n_doc_big, lambda: drain(
        SK.kmv_sketch(doc_big, D.shingles3(F.col("tokens")))
    ))
    timed("ntok_quantiles", n_doc_big, lambda: drain(
        SK.value_quantiles(doc_big, "n_tok")
    ))

    # --- corpus-composition ops ------------------------------------------
    from go_html_transform_spark.operators import decontaminate as DC
    from go_html_transform_spark.operators import packing as PK
    from go_html_transform_spark.operators import sampling as SA

    timed("sample_flag", n_doc_big, lambda: drain(
        SA.sample_deterministic(
            doc_big.select("doc_id", "doc_key"), F.col("doc_key"), 250_000
        )
    ))
    sharded = SH.assign_shards(doc_big, F.col("doc_key"), 1024).select(
        "doc_id", "doc_key", "n_tok", "shard"
    )
    timed("pack_assign", n_doc_big, lambda: drain(
        PK.pack_assign(sharded, F.col("doc_key"), "n_tok", 2048)
    ))
    # eval set: 200 slices of real documents (13-gram hits exist)
    ev_set = (
        doc_raw.filter(F.col("n_tok") >= 16)
        .limit(200)
        .select(F.col("doc_key").alias("id"), F.slice("tokens", 1, 16).alias("tokens"))
    )
    timed("decontaminate_drop", n_doc_big, lambda: drain(
        DC.decontaminate(
            doc_big.select("doc_id", "tokens"), ev_set, "doc_id", n=13
        )
    ))

    # --- pair-shaped (raw corpus: true near-dup structure) ----------------
    timed("minhash_pairs", n_doc_raw, lambda: drain(
        D.minhash_near_duplicates(doc_raw, "doc_id", threshold=0.9)
    ), iters=1)
    timed("simhash_pairs", n_doc_raw, lambda: drain(
        D.simhash_near_duplicates(doc_raw, "doc_id", max_hamming=2)
    ), iters=1)
    timed("embedding_lsh_pairs", n_emb, lambda: drain(
        D.embedding_lsh_near_duplicates(emb, threshold=0.4, n_planes=6, tables=2)
    ), iters=1)

    # --- temporal joins (replicated events) -------------------------------
    clicks = (
        ev_big.filter(F.col("event_type") == "click")
        .select("user_id", F.col("t_us").alias("s_us"))
        .withColumn("e_us", F.col("s_us") + F.lit(3600 * RJ.MICROS))
    )
    purchases = ev_big.filter(F.col("event_type") == "purchase").select(
        "user_id", "t_us"
    )
    timed("range_join", n_ev_big, lambda: drain(
        RJ.range_join(purchases, clicks, on="user_id", probe_time_us="t_us",
                      start_us="s_us", end_us="e_us", width_us=3600 * RJ.MICROS)
    ))

    from go_html_transform_spark.operators.window import resample_ffill

    obs = ev_big.select(
        F.col("user_id").alias("doc_id"),
        (F.col("t_us") / 1e6).cast("timestamp").alias("event_time"),
        "value",
    )
    timed("resample_ffill_1h", n_ev_big, lambda: drain(
        resample_ffill(obs, ["value"], step_seconds=3600, partition_by="doc_id")
    ))

    # --- multi-table point-in-time enrichment: one-pass asof_join_many vs
    # the chained k-join form (k exchanges + k sorts over a widening frame)
    from go_html_transform_spark.operators.asof import asof_join, asof_join_many

    def _feat(event_type: str):
        return ev_big.filter(F.col("event_type") == event_type).select(
            F.col("user_id").alias("doc_id"),
            (F.col("t_us") / 1e6).cast("timestamp").alias("obs_time"),
            F.col("value").alias("v"),
        )

    asof_left = ev_big.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("doc_id"),
        (F.col("t_us") / 1e6).cast("timestamp").alias("event_time"),
        "value",
    )
    feats3 = {"click": _feat("click"), "view": _feat("view"),
              "signup": _feat("signup")}
    timed("asof_many_3t", n_ev_big, lambda: drain(
        asof_join_many(asof_left, feats3)
    ))

    def _chained():
        out = asof_left
        for name, f_ in feats3.items():
            out = asof_join(out, f_).withColumnRenamed("v", f"{name}_v")
        drain(out)

    timed("asof_chain_3t", n_ev_big, _chained)

    from go_html_transform_spark.operators.window import (
        decayed_bucket_counts,
        ewma,
    )

    timed("decayed_counts", n_ev_big, lambda: drain(
        decayed_bucket_counts(obs, bucket_seconds=1800, horizon=4)
    ))
    obs_id = obs.withColumn("event_id", F.xxhash64("doc_id", "event_time"))
    timed("ewma_pandas", n_ev_big, lambda: drain(
        ewma(obs_id, "value", alpha=0.3)
    ))

    from go_html_transform_spark.operators import similarity as SIM

    pq_books = SIM.pq_codebooks(emb)
    timed("pq_encode", n_emb, lambda: drain(
        SIM.pq_encode(emb, pq_books).select("vec_id", "pq_code")
    ))

    # --- retrieval / selection / semantic dedup / bloom / BPE ------------
    from go_html_transform_spark.operators import bloom as BL
    from go_html_transform_spark.operators import bpe as BPE
    from go_html_transform_spark.operators import decontaminate as DC
    from go_html_transform_spark.operators import retrieval as RET
    from go_html_transform_spark.operators import selection as SEL

    bm25_queries = [(0, [982, 756, 310]), (1, [923, 819, 607, 147]), (2, [542, 35, 974])]
    timed("bm25_int_topk", n_doc_big, lambda: drain(
        RET.bm25_int_topk(doc_big.select("doc_id", "tokens"), bm25_queries, topk=10)
    ))
    timed("dsir_weights", n_doc_big, lambda: drain(
        SEL.dsir_weights(doc_big, F.col("lang") == "en")
    ))

    sem_cents = SIM.ivf_centroids(emb, k=8)
    timed("semdedup_pairs", n_emb, lambda: drain(
        D.semantic_dup_pairs(emb, sem_cents, threshold=0.4)
    ))

    bloom_corpus = doc_big.select(
        "doc_id", DC.ngram_hashes(F.col("tokens"), 8).alias("ngram_hashes")
    )
    bloom_ev = (
        doc_raw.filter(F.substring("doc_id", 2, 16).cast("int") % 50 == 0)
        .select(F.explode(DC.ngram_hashes(F.col("tokens"), 8)).alias("h"))
        .distinct()
    )
    timed("bloom_prefilter", n_doc_big, lambda: drain(
        BL.bloom_prefilter_contaminated(bloom_corpus, bloom_ev)
    ))

    def run_bpe() -> None:
        merges, out = BPE.bpe_train(
            doc_big.select("doc_id", "tokens"), num_merges=8, batch=8,
            next_id=2048,
        )
        drain(out)

    timed("bpe_1round_8merges", n_doc_big, run_bpe, iters=1)

    def run_bpe_sampled() -> None:
        merges, out = BPE.bpe_train_sampled(
            doc_big.select("doc_id", "tokens"), num_merges=8,
            key_cols=["doc_id"], sample_rows=50_000, batch=8,
        )
        drain(out)

    timed("bpe_sampled_1round_8merges", n_doc_big, run_bpe_sampled, iters=1)

    # --- end-to-end corpus preparation (raw corpus: the near-dup stage's
    # pair structure is corpus-shaped, see replication policy note) -------
    from go_html_transform_spark.plans.prepare import (
        prepare_training_corpus,
        release_training_corpus,
    )

    def run_prepare() -> None:
        out, _ = prepare_training_corpus(
            spark, sf_dir, min_quality_ppm=300_000, lang=None,
            jaccard_threshold=0.9, n_shards=64,
        )
        drain(out)
        release_training_corpus(out)

    timed("prepare_corpus", n_doc_raw, run_prepare, iters=1)

    result = {
        "metric": "per-operator wall seconds (min-of-3, noop sink) at sf0.1",
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "replicate": REP,
        "timings_sec": timings,
        "input_rows": sizes,
        "rows_per_sec": {
            k: round(sizes[k] / v, 1) for k, v in timings.items()
        },
    }
    print(json.dumps(result))

    lines = [
        "# BENCH/OPS.md — per-operator throughput (training-data ops)",
        "",
        f"sf0.1 corpus; scan-shaped ops replicated x{REP} with unique ids "
        "and repartitioned to 128 (earlier editions ran scan ops as ONE "
        "task — the tiny parquet is a single split and the broadcast "
        "crossJoin preserves it — so their numbers were single-core); "
        "pair-shaped LSH joins on the raw corpus (replication would square "
        "the true-duplicate pair count); min-of-3 (pair joins: single run), "
        "forced GC, noop sink, local[32].",
        "",
        "Notes: `*_kernel` rows are the Arrow pandas-UDF fast paths — the "
        "expression rows above them are their DuckDB-oracle twins (parity "
        "pinned in tests); production calls the kernel. `minhash_pairs` on "
        "THIS corpus is pathological by design: a ~30-token vocabulary "
        "makes distinct-token sets near-identical, so LSH banding yields "
        "~4.2M candidate pairs from 5k docs (every candidate is verified "
        "with true Jaccard) — a real web corpus yields orders of magnitude "
        "fewer candidates per doc; the number to read is verified pairs/s, "
        "not docs/s. `asof_many_3t` vs `asof_chain_3t`: the one-pass "
        "3-table enrichment shuffles+sorts 8M union rows ONCE where the "
        "chain does three exchange+sort rounds over 12M total rows with a "
        "widening payload — near-equal wall HERE because this box's "
        "shuffle is tmpfs memcpy (compression off, no network); on a real "
        "cluster shuffle bytes over the network are the cost, and the "
        "plan-audited 1-vs-k exchange count (BENCH/PLANS.md) is the "
        "number that scales. `semdedup_pairs` is pair-shaped (raw "
        "embeddings; k=8 seeded clusters over 2k vectors ≈ 250k "
        "within-cluster pairs verified — scale governs cluster size via "
        "k). `bpe_1round_8merges` is one full train cycle: a corpus "
        "pair-count pass + an Arrow apply pass over 500k docs. "
        "`bloom_prefilter` covers hash+probe+exact-verify end-to-end on "
        "a fully-contaminated replicated corpus (worst case: every doc "
        "survives the probe).",
        "",
        "| operator | input rows | sec | rows/sec |",
        "|---|---|---|---|",
    ]
    for k, v in timings.items():
        lines.append(f"| {k} | {sizes[k]:,} | {v} | {sizes[k] / v:,.0f} |")
    lines += ["", "Raw JSON:", "```json", json.dumps(result), "```", ""]
    with open(os.path.join(REPO, "BENCH", "OPS.md"), "w") as f:
        f.write("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
