"""ANN recall on the REALISTIC fixture (sources/synth.py): hashed
bag-of-tokens embeddings over the 32k-vocab Zipf corpus with planted
near-duplicates — unlike the testdata's near-isotropic vectors, this
corpus has real cluster structure, which is the regime IVF/IVF-PQ are
built for. Targets the recall@10 >= 0.7 at <= 5% scanned bar with a
bounded rerank.

Usage: python tools/eval_ann_synth.py [n_docs] [n_queries] [k]
Prints one JSON line; paste the table into BENCH/ANN.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 24
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    mode = sys.argv[4] if len(sys.argv) > 4 else "topic"  # topic | bow
    kc = int(os.environ.get("ANN_SYNTH_CENTROIDS", "64"))

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from go_html_transform_spark.operators import similarity as SIM
    from go_html_transform_spark.session import get_spark
    from go_html_transform_spark.sources import synth as Z

    spark = get_spark(app_name="eval-ann-synth")
    spark.sparkContext.setLogLevel("ERROR")

    docs = Z.zipf_documents(spark, n_docs, vocab_size=32_768, avg_len=200)
    base = (
        Z.topic_embeddings(docs).drop("topic")
        if mode == "topic"
        else Z.hashed_embeddings(docs)
    )
    emb = (
        base.select(F.col("doc_key").alias("vec_id"), "embedding")
        .repartition(32)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = emb.count()

    # out-of-sample-ish queries: spread across the id range, never the
    # k-means sample's lowest-hash bias
    qvecs = {
        r.vec_id: list(r.embedding)
        for r in emb.filter(F.col("vec_id") % (n_docs // n_queries) == 3)
        .orderBy("vec_id")
        .limit(n_queries)
        .collect()
    }

    cents = SIM.ivf_trained_centroids(emb, k=kc, iters=3, sample_n=4096)
    enc, books = SIM.ivfpq_encode_trained(emb, cents, iters=3, sample_n=4096)
    enc = enc.persist(StorageLevel.MEMORY_AND_DISK)
    enc.count()

    sizes = {
        int(r["centroid_id"]): int(r["count"])
        for r in SIM.ivf_assign(emb, cents).groupBy("centroid_id").count().collect()
    }

    def probe_frac(qv, nprobe):
        probes = SIM._probe_ids(qv, cents, nprobe)
        return sum(sizes.get(c, 0) for c in probes) / max(1, n)

    PATHS = {
        f"ivf_trained_{kc}c_2probe": (
            lambda qv: SIM.ivf_topk(emb, qv, cents, k=k, nprobe=2),
            lambda qv: probe_frac(qv, 2),
        ),
        f"ivf_trained_{kc}c_3probe": (
            lambda qv: SIM.ivf_topk(emb, qv, cents, k=k, nprobe=3),
            lambda qv: probe_frac(qv, 3),
        ),
        f"ivfpq_trained_{kc}c_3probe_r200": (
            lambda qv: SIM.ivfpq_topk(enc, books, cents, qv, k=k, nprobe=3, rerank=200),
            lambda qv: 200 / max(1, n),
        ),
        f"ivfpq_trained_{kc}c_5probe_r400": (
            lambda qv: SIM.ivfpq_topk(enc, books, cents, qv, k=k, nprobe=5, rerank=400),
            lambda qv: 400 / max(1, n),
        ),
    }

    def ids(df):
        return [r.vec_id for r in df.collect()]

    recalls = {p: [] for p in PATHS}
    fracs = {p: [] for p in PATHS}
    for qid, qv in qvecs.items():
        exact = set(ids(SIM.cosine_topk(emb, qv, k=k)))
        for name, (fn, ffn) in PATHS.items():
            got = set(ids(fn(qv)))
            recalls[name].append(len(exact & got) / k)
            fracs[name].append(ffn(qv))

    summary = {}
    for name, v in recalls.items():
        mf = sum(fracs[name]) / len(fracs[name])
        mr = sum(v) / len(v)
        summary[name] = {
            "mean_recall": round(mr, 3),
            "min_recall": round(min(v), 3),
            "mean_scanned_frac": round(mf, 4),
            "lift_vs_random": round(mr / max(1e-9, mf), 2),
            "n_queries": len(v),
        }
    print(
        json.dumps(
            {
                "metric": f"ANN recall@{k} on synth zipf fixture",
                "embedding_mode": mode,
                "corpus_size": n,
                "k_centroids": kc,
                "summary": summary,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
