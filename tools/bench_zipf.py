"""Realistic-vocabulary rates for the frequency-shaped ops.

The driver testdata's ~30-id vocabulary makes LSH candidate generation
pathological (every doc shares every shingle: 4.2M candidates from 5k
docs, BENCH/OPS.md) and flattens BM25 document frequencies. This bench
re-measures minhash near-dup, SemDeDup, BM25 and sampled BPE training on
the synthetic 32k-vocab Zipf corpus (sources/synth.py: planted 5%
near-duplicates, rank-frequency ~ 1/k), where candidate rates and df
distributions have production shape.

Usage: python tools/bench_zipf.py [n_docs]   (default 100000)
Prints one JSON line; paste the rows into BENCH/OPS.md. The session
takes ``get_spark``'s host defaults (SPARK_GRAFT_CPUS and
SPARK_GRAFT_DRIVER_MEM override them).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    vocab = 32_768

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from go_html_transform_spark.operators import bpe as BPE
    from go_html_transform_spark.operators import dedup as D
    from go_html_transform_spark.operators import retrieval as RET
    from go_html_transform_spark.operators import similarity as SIM
    from go_html_transform_spark.session import get_spark
    from go_html_transform_spark.sources import synth as Z

    spark = get_spark(app_name="bench-zipf")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))

    docs = (
        Z.zipf_documents(spark, n_docs, vocab_size=vocab, avg_len=200)
        .repartition(width)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = docs.count()
    n_planted = docs.filter("is_dup").count()
    emb = (
        Z.hashed_embeddings(docs)
        .repartition(width)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    emb.count()

    out: dict = {"n_docs": n, "vocab": vocab, "planted_dups": n_planted}
    timings: dict[str, float] = {}

    def timed(name: str, fn, iters: int = 2):
        best, res = None, None
        for _ in range(iters):
            jvm.System.gc()
            time.sleep(1)
            t0 = time.perf_counter()
            res = fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 2)
        return res

    # candidate rate: the number LSH actually has to verify
    n_cand = timed(
        "minhash_candidates",
        lambda: D.minhash_lsh_candidates(docs, "doc_id").count(),
    )
    out["minhash_candidates"] = n_cand

    pairs = D.minhash_near_duplicates(docs, "doc_id", threshold=0.8).persist()
    n_pairs = timed("minhash_near_dup", lambda: pairs.count(), iters=1)
    out["minhash_verified_pairs"] = n_pairs
    # recall on the planted structure: dup doc z...k pairs with z...(k-1)
    found_planted = (
        pairs.withColumn(
            "ka", F.substring("id_a", 2, 9).cast("long")
        ).withColumn("kb", F.substring("id_b", 2, 9).cast("long"))
        .filter((F.col("kb") - F.col("ka") == 1) & (F.col("kb") % 20 == 1))
        .count()
    )
    out["minhash_planted_recall"] = round(found_planted / max(1, n_planted), 3)
    pairs.unpersist()

    cents = SIM.ivf_trained_centroids(emb, k=32, iters=2, id_col="doc_key")
    sem = timed(
        "semdedup_pairs",
        lambda: D.semantic_dup_pairs(
            emb, cents, threshold=0.9, id_col="doc_key", max_cell=None
        ).count(),
    )
    out["semdedup_pairs"] = sem
    # hot-cell guard on (default max_cell): oversized cells tile
    # exactly, so the pair count equals the unguarded one
    sem_g = timed(
        "semdedup_pairs_guarded",
        lambda: D.semantic_dup_pairs(
            emb, cents, threshold=0.9, id_col="doc_key"
        ).count(),
    )
    out["semdedup_pairs_guarded"] = sem_g
    assert sem_g == sem, (sem, sem_g)

    queries = [(0, [1, 5, 37]), (1, [2, 113, 854]), (2, [9, 407, 3021])]
    timed(
        "bm25_int_topk",
        lambda: RET.bm25_int_topk(
            docs.select("doc_id", "tokens"), queries, topk=10
        ).count(),
    )

    sizes: list[int] = []
    timed(
        "bpe_sampled_train8",
        lambda: BPE.bpe_train_sampled(
            docs.select("doc_id", "tokens"),
            num_merges=8,
            key_cols=["doc_id"],
            sample_rows=50_000,
            batch=8,
            round_sizes=sizes,
            apply_to_corpus=False,
        ),
        iters=1,
    )
    out["bpe_rounds_for_8_merges"] = len(sizes)

    out["timings_sec"] = timings
    out["docs_per_sec"] = {
        k: round(n / v, 1) for k, v in timings.items() if v > 0
    }
    out["env"] = {"load": [round(x, 2) for x in os.getloadavg()]}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
