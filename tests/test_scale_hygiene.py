"""M5 — skew salting + lineage checkpoint/resume tests."""

import re

import pytest
from pyspark.sql import functions as F

from go_html_transform_spark.operators import skew
from go_html_transform_spark.plans.lineage import (
    LINEAGE_SCHEMA,
    CheckpointTable,
    local_frame,
    partition_lineage,
)


@pytest.fixture()
def skewed(spark):
    # one hot key (90%), many cold keys
    hot = [("hot", f"id{i}") for i in range(900)]
    cold = [(f"k{i % 50}", f"cid{i}") for i in range(100)]
    return spark.createDataFrame(hot + cold, "key string, id string")


def test_salted_count_equals_plain(spark, skewed):
    plain = {r.key: r.cnt for r in skewed.groupBy("key").agg(F.count("*").alias("cnt")).collect()}
    salted = {r.key: r.cnt for r in skew.salted_count(skewed, "key", "id").collect()}
    assert salted == plain
    assert salted["hot"] == 900


def test_salt_distributes_hot_key(spark, skewed):
    s = skew.with_salt(skewed.filter("key='hot'"), "id", n_salts=16)
    per_salt = [r.cnt for r in s.groupBy("__salt").agg(F.count("*").alias("cnt")).collect()]
    assert len(per_salt) == 16  # all salts hit
    assert max(per_salt) < 900 * 0.25  # no salt holds the whole key


def test_salted_join_equals_plain(spark, skewed):
    dim = spark.createDataFrame(
        [("hot", 1.0)] + [(f"k{i}", float(i)) for i in range(50)], "key string, w double"
    )
    plain = skewed.join(dim, "key").agg(F.sum("w").alias("s")).collect()[0].s
    salted = (
        skew.salted_join(skewed, dim, "key", "id", n_salts=8)
        .agg(F.sum("w").alias("s"))
        .collect()[0]
        .s
    )
    assert salted == plain


def test_lineage_checksum_order_insensitive(spark):
    df1 = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "doc_id string, v int")
    df2 = spark.createDataFrame([("c", 3), ("a", 1), ("b", 2)], "doc_id string, v int")
    l1 = partition_lineage(df1, "s", n_buckets=4).select("bucket", "n_rows", "checksum")
    l2 = partition_lineage(df2, "s", n_buckets=4).select("bucket", "n_rows", "checksum")
    assert sorted(map(tuple, l1.collect())) == sorted(map(tuple, l2.collect()))


def test_partition_lineage_rebuckets_a_bucketed_frame(spark):
    """An existing ``__bucket`` does not override the caller's bucketing."""
    from go_html_transform_spark.plans.lineage import with_bucket

    df = spark.createDataFrame(
        [(f"d{i:03d}", i) for i in range(40)], "doc_id string, v int"
    )
    counts = lambda d: sorted(  # noqa: E731
        map(tuple, partition_lineage(d, "s", n_buckets=4)
            .select("bucket", "n_rows").collect())
    )
    assert counts(with_bucket(df, n_buckets=64)) == counts(df)


def test_checkpoint_resume_partition_granular(spark, tmp_path):
    ckpt = CheckpointTable(spark, str(tmp_path / "lineage"))
    sink = str(tmp_path / "out")
    df = spark.createDataFrame(
        [(f"d{i:03d}", i) for i in range(200)], "doc_id string, v int"
    )

    n1 = ckpt.run_stage(df, "stage1", sink, n_buckets=8)
    assert n1 == 200
    # full rerun: everything checkpointed -> nothing recomputed or rewritten
    n2 = ckpt.run_stage(df, "stage1", sink, n_buckets=8)
    assert n2 == 0
    assert spark.read.parquet(sink).count() == 200

    # simulate a killed job: drop lineage for some buckets, rerun resumes
    # exactly those buckets
    lineage = spark.read.parquet(str(tmp_path / "lineage"))
    kept = lineage.filter(F.col("bucket") < 5)
    kept.write.mode("overwrite").parquet(str(tmp_path / "lineage2"))
    ckpt2 = CheckpointTable(spark, str(tmp_path / "lineage2"))
    sink2 = str(tmp_path / "out2")
    n3 = ckpt2.run_stage(df, "stage1", sink2, n_buckets=8)
    expected = (
        df.withColumn("b", F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int"))
        .filter("b >= 5")
        .count()
    )
    assert n3 == expected > 0


def test_checkpoint_completion_is_snapshot_scoped(spark, tmp_path):
    """A bucket marked complete (including zero-row markers) under one
    input snapshot must NOT mask the same bucket for a different snapshot
    — late-arriving data gets a new snapshot_id and reprocesses cleanly."""
    ckpt = CheckpointTable(spark, str(tmp_path / "lineage"))
    sink = str(tmp_path / "out")
    df = spark.createDataFrame(
        [(f"d{i:03d}", i) for i in range(50)], "doc_id string, v int"
    )
    n1 = ckpt.run_stage(df, "stage1", sink, n_buckets=8, snapshot_id="snap1")
    assert n1 == 50
    # same snapshot: idempotent no-op
    assert ckpt.run_stage(df, "stage1", sink, n_buckets=8, snapshot_id="snap1") == 0
    # NEW snapshot (late-arriving rows): all buckets pending again,
    # including ones that were empty/zero-row under snap1
    late = spark.createDataFrame(
        [(f"d{i:03d}", i) for i in range(50, 60)], "doc_id string, v int"
    )
    n2 = ckpt.run_stage(late, "stage1", sink, n_buckets=8, snapshot_id="snap2")
    assert n2 == 10
    assert spark.read.parquet(sink).count() == 60


def test_run_stage_executes_plan_once(spark, tmp_path):
    """The stage pipeline must compute ONCE per run_stage call (round-1
    recomputed it up to 3x: count, write, lineage agg). An accumulator
    bumped inside the plan counts actual row evaluations."""
    acc = spark.sparkContext.accumulator(0)

    def bump(v):
        acc.add(1)
        return v

    from pyspark.sql.types import IntegerType

    bump_udf = F.udf(bump, IntegerType())
    df = spark.createDataFrame(
        [(f"d{i:03d}", i) for i in range(100)], "doc_id string, v int"
    ).withColumn("v", bump_udf("v"))
    ckpt = CheckpointTable(spark, str(tmp_path / "lineage"))
    n = ckpt.run_stage(df, "stage1", str(tmp_path / "out"), n_buckets=4)
    assert n == 100
    # one evaluation per row (the lineage agg reads the persisted cache);
    # allow a small slack for a task retry but far below 2 full passes
    assert acc.value <= 120, acc.value


def _jobs_in(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _count_reads(ckpt):
    calls = []
    read = ckpt.read

    def counted():
        calls.append(1)
        return read()

    ckpt.read = counted
    return calls


def test_pending_on_missing_checkpoint_runs_no_read(spark, tmp_path):
    ckpt = CheckpointTable(spark, str(tmp_path / "missing"))
    reads = _count_reads(ckpt)
    df = spark.createDataFrame([("a", 1)], "doc_id string, v int")
    todo, jobs = _jobs_in(spark, "pending-missing", lambda: ckpt.pending(df, "s"))
    assert reads == [] and jobs == []
    assert todo.columns == ["doc_id", "v"]


def test_pending_plan_is_one_bucket_filter_without_join(spark, tmp_path):
    ckpt = CheckpointTable(spark, str(tmp_path / "lineage"))
    ckpt.append(
        local_frame(
            spark,
            [("s", 3, 1, 7, "", "r", 0), ("s", 1, 0, 0, "", "r", 0),
             ("other", 5, 1, 7, "", "r", 0), ("s", 6, 1, 7, "snap2", "r", 0)],
            LINEAGE_SCHEMA,
        )
    )
    df = spark.createDataFrame(
        [(f"d{i:03d}", i) for i in range(40)], "doc_id string, v int"
    )
    todo = ckpt.pending(df, "s", n_buckets=8)
    qe = todo._jdf.queryExecution()
    assert "Join" not in qe.executedPlan().toString()
    filters = re.findall(r"NOT __bucket#\d+ IN \(([^)]*)\)", qe.analyzed().toString())
    assert filters == ["1,3"], qe.analyzed().toString()
    left = {r.b for r in todo.select(
        F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int").alias("b")).collect()}
    assert left and not left & {1, 3}


def test_run_stage_reads_checkpoint_at_most_once(spark, tmp_path):
    """Fresh checkpoint: no read, and no job before the sink write.
    Existing checkpoint: one read, also through run_stage_with_metrics."""
    from go_html_transform_spark.plans.lineage import (
        MetricsTable,
        run_stage_with_metrics,
    )

    ckpt = CheckpointTable(spark, str(tmp_path / "lineage"))
    reads = _count_reads(ckpt)
    df = spark.createDataFrame(
        [(f"d{i:03d}", i) for i in range(50)], "doc_id string, v int"
    )
    sink = str(tmp_path / "out")
    n, jobs = _jobs_in(
        spark, "stage-fresh", lambda: ckpt.run_stage(df, "s", sink, n_buckets=8)
    )
    assert n == 50 and reads == []
    first = spark.sparkContext.statusTracker().getJobInfo(min(jobs))
    assert "parquet" in spark.sparkContext.statusTracker().getStageInfo(
        max(first.stageIds)).name
    assert ckpt.run_stage(df, "s", sink, n_buckets=8) == 0
    assert len(reads) == 1
    met = MetricsTable(spark, str(tmp_path / "metrics"))
    assert run_stage_with_metrics(
        ckpt, met, df, "s", str(tmp_path / "out2"), {"v": F.sum("v")},
        n_buckets=8, snapshot_id="snap2",
    ) == 50
    assert len(reads) == 2


def test_lineage_checksum_ignores_session_time_zone(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [("a", dt.datetime(2026, 3, 8, 1, 30)), ("b", dt.datetime(2026, 7, 1, 12))],
        "doc_id string, t timestamp",
    )
    by_string = F.xxhash64(F.col("t").cast("string"))
    tz = spark.conf.get("spark.sql.session.timeZone")

    def under(zone, digest=None):
        spark.conf.set("spark.sql.session.timeZone", zone)
        lin = partition_lineage(df, "s", n_buckets=2, digest_expr=digest)
        return sorted(map(tuple, lin.select("bucket", "checksum").collect()))

    try:
        assert under("UTC") == under("America/Los_Angeles")
        # the string form this digest replaced does depend on it
        assert under("UTC", by_string) != under("America/Los_Angeles", by_string)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_run_stage_over_map_column_is_order_insensitive(spark, tmp_path):
    rows = [(f"d{i:03d}", i, {"k": str(i % 3)}) for i in range(30)]
    schema = "doc_id string, v int, attrs map<string,string>"

    def lineage(tag, data):
        ckpt = CheckpointTable(spark, str(tmp_path / f"ckpt-{tag}"))
        df = spark.createDataFrame(data, schema)
        assert ckpt.run_stage(df, "s", str(tmp_path / f"out-{tag}"), n_buckets=4) == 30
        return sorted(
            map(tuple, ckpt.read().select("bucket", "n_rows", "checksum").collect())
        )

    assert lineage("fwd", rows) == lineage("rev", rows[::-1])


def test_local_frame_runs_no_job(spark):
    for rows in ([], [("s", 1, 2, 3, "", "r", 4)]):
        df, jobs = _jobs_in(
            spark, f"local-{len(rows)}",
            lambda: local_frame(spark, rows, LINEAGE_SCHEMA),
        )
        assert jobs == []
        assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
        assert [tuple(r) for r in df.collect()] == rows


def test_metrics_read_raises_on_unreadable_table(spark, tmp_path):
    from go_html_transform_spark.plans.lineage import MetricsTable

    assert MetricsTable(spark, str(tmp_path / "missing")).read().collect() == []
    bad = tmp_path / "metrics"
    bad.mkdir()
    (bad / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        MetricsTable(spark, str(bad)).read().collect()


def test_run_stage_with_metrics_single_pass_and_resume(spark, tmp_path):
    """Observed metrics ride the stage's ONE execution: values cover
    exactly the written rows, a fully-resumed re-run records
    rows_written=0, and a partial resume's metrics cover only the
    pending buckets."""
    from go_html_transform_spark.plans.lineage import (
        CheckpointTable,
        MetricsTable,
        run_stage_with_metrics,
    )

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 10).alias("n_tok")
    )
    ckpt = CheckpointTable(spark, str(tmp_path / "ckpt"))
    met = MetricsTable(spark, str(tmp_path / "metrics"))
    n = run_stage_with_metrics(
        ckpt, met, df, "s1", str(tmp_path / "sink"),
        metric_exprs={"sum_n_tok": F.sum("n_tok"),
                      "max_n_tok": F.max("n_tok")},
        key="doc_id", snapshot_id="snapA", run_id="r1",
    )
    assert n == 1000
    got = {r.metric: r.value for r in met.read().collect()}
    assert got["rows_written"] == 1000.0
    assert got["sum_n_tok"] == float(sum(i % 10 for i in range(1000)))
    assert got["max_n_tok"] == 9.0
    # fully resumed: no rows, no stale metric values
    n2 = run_stage_with_metrics(
        ckpt, met, df, "s1", str(tmp_path / "sink"),
        metric_exprs={"sum_n_tok": F.sum("n_tok")},
        key="doc_id", snapshot_id="snapA", run_id="r2",
    )
    assert n2 == 0
    r2 = {r.metric: r.value for r in met.read()
          .filter("run_id = 'r2'").collect()}
    assert r2 == {"rows_written": 0.0}
    # partial resume under a NEW snapshot: fresh metrics over all rows
    n3 = run_stage_with_metrics(
        ckpt, met, df, "s1", str(tmp_path / "sink3"),
        metric_exprs={"sum_n_tok": F.sum("n_tok")},
        key="doc_id", snapshot_id="snapB", run_id="r3",
    )
    assert n3 == 1000
    r3 = {r.metric: r.value for r in met.read()
          .filter("run_id = 'r3'").collect()}
    assert r3["sum_n_tok"] == float(sum(i % 10 for i in range(1000)))
