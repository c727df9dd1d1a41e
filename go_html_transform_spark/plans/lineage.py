"""Per-partition lineage checkpointing + partition-granular resume
(north rule: "every stage writes per-partition lineage rows (input
snapshot-id, row counts, checksum) to a checkpoint table so a killed job
resumes at partition granularity").

Reference precedent: ``Trace`` (/root/reference/html/transform/transform.go:314-328)
is the reference's only observability hook — log before/after per node.
The engine replaces it with structural, distributed lineage:

* partitions are LOGICAL and deterministic: ``bucket = pmod(hash(key), n)``
  — stable across runs/cluster sizes, unlike spark_partition_id().
* per (stage, bucket): row count + order-insensitive checksum
  (sum of per-row digests) — all JVM-side, no Python in the path.
* resume: read the completed buckets FOR THE SAME INPUT SNAPSHOT once,
  filter the input with ``NOT __bucket IN (...)`` (at most ``n_buckets``
  literals, so no join), recompute only missing buckets, append.

A stage (``CheckpointTable.run_stage``) runs these Spark jobs and no
others:

1. the checkpoint read — one small collect of the completed buckets;
   none when the checkpoint does not exist yet;
2. the sink write, which also fills the persisted stage cache;
3. one lineage aggregation over that cache;
4. one append of the lineage rows, built on the driver as an Arrow
   local relation (no Python RDD, no Python worker).

Two hash families:

* default — ``xxhash64`` over the RAW column values (JVM intrinsic): the
  production path. Columns whose type contains a map are hashed in their
  string form, because ``xxhash64`` rejects maps. Raw values make the
  checksum independent of the session time zone (a string cast of a
  timestamp renders in it). Checksums written before the digest moved
  from the all-string form to raw columns cannot be compared with later
  ones; resume reads only which buckets completed, never the checksum,
  so it is unaffected.
* affine — ``(x * a + b) mod P`` over numeric columns (the MinHash
  constants from operators/dedup.py): bit-identical in DuckDB, so the
  lineage computation itself is oracle-checked (registry query
  ``lineage_partition_rows``).

The checkpoint table is parquet here; on a real cluster it is an Iceberg
table and ``snapshot_id`` records the input's Iceberg snapshot — in the
sandbox we record a content fingerprint instead (sources/sinks.py).
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, DataType, MapType, StructType
from pyspark.storagelevel import StorageLevel

from go_html_transform_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
)

LINEAGE_SCHEMA = (
    "stage string, bucket int, n_rows bigint, checksum bigint, "
    "snapshot_id string, run_id string, completed_at_us bigint"
)

_CHECKSUM_MOD = 2**62


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A few driver-side rows as a local relation: they reach the JVM as
    one Arrow table, so building the frame runs no job and no Python
    worker. ``createDataFrame(list)`` would parallelise a Python RDD,
    and the pandas form falls back to one for zero rows."""
    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)


def _affine_const(i: int) -> tuple[int, int]:
    return (2 * i + 1) * MINHASH_A % MINHASH_P, i * MINHASH_B % MINHASH_P


def affine_digest(cols: list[Column]) -> Column:
    """Order-insensitive-safe per-row digest over NUMERIC columns with the
    MinHash affine family — every term < P^2 < 2^40, sum < 3*2^40: exact
    int64 in both Spark and DuckDB (the cross-engine twin of xxhash64)."""
    acc = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        a, b = _affine_const(i)
        acc = acc + ((c.cast("long") % MINHASH_P) * a + b)
    return acc % MINHASH_P


def affine_digest_sql(cols: list[str]) -> str:
    terms = []
    for i, c in enumerate(cols):
        a, b = _affine_const(i)
        terms.append(f"((CAST({c} AS BIGINT) % {MINHASH_P}) * {a} + {b})")
    return f"({' + '.join(terms)}) % {MINHASH_P}"


def _has_map(t: DataType) -> bool:
    if isinstance(t, MapType):
        return True
    if isinstance(t, ArrayType):
        return _has_map(t.elementType)
    if isinstance(t, StructType):
        return any(_has_map(f.dataType) for f in t.fields)
    return False


def row_digest(df: DataFrame) -> Column:
    """Default per-row digest: ``xxhash64`` over the raw values of every
    column; a column whose type contains a map is hashed in its string
    form, since ``xxhash64`` rejects maps."""
    return F.xxhash64(
        *[
            F.col(f.name).cast("string") if _has_map(f.dataType) else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def with_bucket(
    df: DataFrame,
    key: str = "doc_id",
    n_buckets: int = 64,
    bucket_expr: Column | None = None,
) -> DataFrame:
    """Deterministic logical partition id — survives restarts and differing
    physical parallelism (spark_partition_id would not)."""
    expr = bucket_expr if bucket_expr is not None else F.xxhash64(F.col(key))
    return df.withColumn("__bucket", F.pmod(expr, F.lit(n_buckets)).cast("int"))


def partition_lineage(
    df: DataFrame,
    stage: str,
    key: str = "doc_id",
    n_buckets: int = 64,
    snapshot_id: str = "",
    run_id: str = "",
    bucket_expr: Column | None = None,
    digest_expr: Column | None = None,
) -> DataFrame:
    """Compute per-bucket lineage rows for a stage output. One JVM-side
    aggregation: count + sum-of-digests (order-insensitive, modular wrap
    is fine — it's a fingerprint). ``bucket_expr`` defaults to
    ``xxhash64(key)`` and ``digest_expr`` to ``row_digest``; pass
    affine_digest(...) columns for the DuckDB-checkable form."""
    digest = digest_expr if digest_expr is not None else row_digest(df)
    hashed = with_bucket(df, key, n_buckets, bucket_expr).withColumn("__h", digest)
    # accumulate in decimal(38,0) (no overflow under ANSI mode), then fold
    # back into a long fingerprint
    return (
        hashed.groupBy("__bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.pmod(F.sum(F.col("__h").cast("decimal(38,0)")), F.lit(_CHECKSUM_MOD))
            .cast("long")
            .alias("checksum"),
        )
        .select(
            F.lit(stage).alias("stage"),
            F.col("__bucket").alias("bucket"),
            "n_rows",
            "checksum",
            F.lit(snapshot_id).alias("snapshot_id"),
            F.lit(run_id).alias("run_id"),
            F.lit(int(time.time() * 1e6)).alias("completed_at_us"),
        )
    )


def _select_pending(
    df: DataFrame, key: str, n_buckets: int, done: set[int]
) -> DataFrame:
    """``df`` with ``__bucket``, less the buckets in ``done``: one
    ``NOT __bucket IN (...)`` filter over at most ``n_buckets`` literals,
    so its size is set by configuration, not by the data."""
    bucketed = with_bucket(df, key, n_buckets)
    if not done:
        return bucketed
    return bucketed.filter(~F.col("__bucket").isin(sorted(done)))


class CheckpointTable:
    """Append-only lineage store with partition-granular resume.

    Completion is scoped to (stage, snapshot_id): a bucket marked complete
    for one input snapshot — including a zero-row bucket — does NOT mask
    the same bucket when the stage later runs over a different snapshot
    (late-arriving data gets a new snapshot_id and reprocesses cleanly).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        """The lineage rows; empty only when the table does not exist."""
        if not os.path.exists(self.path):
            return local_frame(self.spark, [], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)

    def append(self, lineage: DataFrame) -> None:
        lineage.write.mode("append").parquet(self.path)

    def completed_buckets(self, stage: str, snapshot_id: str = "") -> set[int]:
        """Buckets that completed ``stage`` for ``snapshot_id``: one small
        collect job over the checkpoint, none when it does not exist."""
        if not os.path.exists(self.path):
            return set()
        rows = (
            self.read()
            .filter((F.col("stage") == stage) & (F.col("snapshot_id") == snapshot_id))
            .select("bucket")
            .distinct()
            .collect()
        )
        return {r.bucket for r in rows}

    def pending(
        self,
        df: DataFrame,
        stage: str,
        key: str = "doc_id",
        n_buckets: int = 64,
        snapshot_id: str = "",
    ) -> DataFrame:
        """Rows of ``df`` whose bucket has NOT completed ``stage`` for this
        snapshot — the resume input. Not fully lazy: it reads the
        checkpoint's completed buckets, which runs one small job when the
        checkpoint exists (none when it does not). The plan filters
        ``NOT __bucket IN (...)`` and has no join."""
        done = self.completed_buckets(stage, snapshot_id)
        return _select_pending(df, key, n_buckets, done).drop("__bucket")

    def run_stage(
        self,
        df: DataFrame,
        stage: str,
        sink_path: str,
        key: str = "doc_id",
        n_buckets: int = 64,
        snapshot_id: str = "",
        run_id: str = "",
    ) -> int:
        """Execute a stage resumably: write only pending buckets to the
        sink, then record their lineage — INCLUDING zero-row lineage for
        pending buckets that turned out empty, so later resumes of the
        SAME snapshot don't rescan them forever. Returns rows written.
        Idempotent: a second call after success writes nothing new.

        Spark jobs, in order: the checkpoint read (one small collect;
        none when the checkpoint does not exist), the sink write, which
        fills the persisted ``todo`` cache, one lineage aggregation over
        that cache, and one append of the lineage rows as an Arrow local
        relation. The stage plan thus executes ONCE (round 1 recomputed
        it up to 3x — count, write, lineage — which triples stage cost at
        100 TB), and the row count is derived from the lineage rows
        instead of a count() action. ``__bucket`` rides the cache, so the
        aggregation does not hash the key again; the digest is
        ``row_digest`` (raw columns, see the module docstring), not
        comparable with checksums written before it replaced the
        all-string digest.

        Driver-side assembly is safe: lineage is at most n_buckets rows."""
        done = self.completed_buckets(stage, snapshot_id)
        todo = _select_pending(df, key, n_buckets, done)
        return self._run_pending(
            todo, done, stage, sink_path, n_buckets, snapshot_id, run_id
        )

    def _run_pending(
        self,
        todo: DataFrame,
        done: set[int],
        stage: str,
        sink_path: str,
        n_buckets: int,
        snapshot_id: str,
        run_id: str,
    ) -> int:
        """``run_stage`` after the checkpoint read: ``todo`` is
        ``_select_pending(df, key, n_buckets, done)``."""
        pending_ids = sorted(set(range(n_buckets)) - done)
        if not pending_ids:
            return 0
        todo = todo.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            out = todo.drop("__bucket")
            out.write.mode("append").parquet(sink_path)
            lin_rows = partition_lineage(
                todo,
                stage,
                n_buckets=n_buckets,
                snapshot_id=snapshot_id,
                run_id=run_id,
                bucket_expr=F.col("__bucket"),
                digest_expr=row_digest(out),
            ).collect()
        finally:
            todo.unpersist()
        n = int(sum(r.n_rows for r in lin_rows))
        observed = {r.bucket for r in lin_rows}
        now_us = int(time.time() * 1e6)
        zero_rows = [
            (stage, b, 0, 0, snapshot_id, run_id, now_us)
            for b in pending_ids
            if b not in observed
        ]
        rows = [tuple(r) for r in lin_rows] + zero_rows
        self.append(local_frame(self.spark, rows, LINEAGE_SCHEMA).coalesce(1))
        return n


METRICS_SCHEMA = (
    "stage string, metric string, value double, snapshot_id string, "
    "run_id string, recorded_at_us bigint"
)


class MetricsTable:
    """Append-only per-stage metrics store — the "metrics" half of the
    north rule's "per-partition lineage + metrics". Metric values are
    captured with ``df.observe`` DURING the stage's single execution
    (the accumulator rides the sink write — zero extra corpus passes,
    the same no-recompute discipline run_stage applies to lineage), so
    a metrics row is evidence the stage really ran over exactly the
    rows it wrote."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        """The metrics rows; empty only when the table does not exist — an
        unreadable table raises."""
        if not os.path.exists(self.path):
            return local_frame(self.spark, [], METRICS_SCHEMA)
        return self.spark.read.schema(METRICS_SCHEMA).parquet(self.path)

    def record(
        self,
        stage: str,
        values: dict[str, float],
        snapshot_id: str = "",
        run_id: str = "",
    ) -> None:
        now_us = int(time.time() * 1e6)
        rows = [
            (stage, k, float(v), snapshot_id, run_id, now_us)
            for k, v in sorted(values.items())
        ]
        local_frame(self.spark, rows, METRICS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.path)


def run_stage_with_metrics(
    ckpt: CheckpointTable,
    metrics: MetricsTable,
    df: DataFrame,
    stage: str,
    sink_path: str,
    metric_exprs: dict[str, Column] | None = None,
    key: str = "doc_id",
    n_buckets: int = 64,
    snapshot_id: str = "",
    run_id: str = "",
) -> int:
    """run_stage + observed metrics in ONE execution: the caller's
    aggregate expressions (e.g. ``{"sum_n_tok": F.sum("n_tok")}``) ride
    the sink write via ``df.observe`` — no second pass, no separate
    count job. ``rows_written`` is always recorded. The checkpoint is
    read once, here, before the observed frame goes to run_stage's
    write and lineage steps."""
    done = ckpt.completed_buckets(stage, snapshot_id)
    # observe AFTER the pending filter so metrics cover exactly the rows
    # this run writes (a resumed run must not re-count completed buckets)
    todo = _select_pending(df, key, n_buckets, done)
    exprs = dict(metric_exprs or {})
    obs = None
    if exprs:
        from pyspark.sql import Observation

        obs = Observation()
        todo = todo.observe(obs, *[v.alias(k) for k, v in sorted(exprs.items())])

    n = ckpt._run_pending(
        todo, done, stage, sink_path, n_buckets, snapshot_id, run_id
    )
    vals: dict[str, float] = {"rows_written": float(n)}
    if obs is not None and n > 0:
        got = obs.get
        vals.update({k: float(got[k]) for k in exprs})
    metrics.record(stage, vals, snapshot_id, run_id)
    return n
