"""spark-submit entry point: the resumable production pipeline.

Deployment (north rule: ``spark-submit --py-files`` on a multi-executor
cluster):

    zip -r ghts.zip go_html_transform_spark
    spark-submit --py-files ghts.zip tools/run_pipeline.py \
        --input /root/testdata/sf0.1 --output /tmp/ghts_out \
        --checkpoint /tmp/ghts_ckpt [--gap 1800] [--rolling-k 3]

The job is resumable at partition granularity: kill it mid-run and
re-submit with the same --checkpoint; only buckets without lineage rows
recompute (plans/lineage.py).
"""

from __future__ import annotations

import argparse
import sys
import time

sys.path.insert(0, ".")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.1")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--gap", type=int, default=1800)
    ap.add_argument("--rolling-k", type=int, default=3)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--run-id", default=None)
    return ap.parse_args(argv)


def run(spark, args: argparse.Namespace) -> str:
    """Run the ``features_v1`` stage on ``spark``; return the summary line."""
    from go_html_transform_spark.operators import transforms as X
    from go_html_transform_spark.operators.asof import asof_join
    from go_html_transform_spark.operators.window import add_features
    from go_html_transform_spark.plans.lineage import (
        CheckpointTable,
        MetricsTable,
        run_stage_with_metrics,
    )
    from go_html_transform_spark.plans.pipeline import Transformer
    from go_html_transform_spark.sources import tables as S
    from go_html_transform_spark.sources.sinks import snapshot_id

    run_id = args.run_id or f"run-{int(time.time())}"
    snap = snapshot_id(spark, f"{args.input}/events.parquet")

    seq = S.sequences(spark, args.input)
    lab = S.labels(spark, args.input)
    tr = Transformer(seq).apply("t982", lambda t, p: X.append_children(t, [1023]))
    full = add_features(
        asof_join(
            tr.df.select(
                "doc_id", "event_time", "event_id", "tokens", "n_tok",
                "source", "value",
            ),
            lab,
            direction="backward",
        ),
        gap_seconds=args.gap,
        rolling_k=args.rolling_k,
    )

    from pyspark.sql import functions as F

    ckpt = CheckpointTable(spark, args.checkpoint)
    metrics = MetricsTable(spark, f"{args.checkpoint}_metrics")
    n = run_stage_with_metrics(
        ckpt,
        metrics,
        full,
        stage="features_v1",
        sink_path=args.output,
        metric_exprs={
            "sum_n_tok": F.sum("n_tok"),
            "n_entities_approx": F.approx_count_distinct("doc_id"),
            "null_labels": F.count(F.when(F.col("label_value").isNull(), 1)),
        },
        key="doc_id",
        n_buckets=args.n_buckets,
        snapshot_id=snap,
        run_id=run_id,
    )
    done = len(ckpt.completed_buckets("features_v1", snapshot_id=snap))
    mrows = {
        r.metric: r.value
        for r in metrics.read().filter(F.col("run_id") == run_id).collect()
    }
    return (
        f"run_id={run_id} snapshot={snap} wrote_rows={n} "
        f"completed_buckets={done}/{args.n_buckets} metrics={mrows}"
    )


def main(argv: list[str] | None = None) -> None:
    from go_html_transform_spark.session import get_spark

    args = parse_args(argv)
    spark = get_spark(app_name="ghts-pipeline")
    print(run(spark, args))
    spark.stop()


if __name__ == "__main__":
    main()
