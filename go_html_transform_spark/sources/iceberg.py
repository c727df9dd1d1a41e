"""Iceberg production layout for the 10^12-sequence table (north rule).

The sandbox ships no Iceberg runtime jars (sinks.iceberg_available gates
every call), so this module is the PRODUCTION spec — DDL builders +
session config — exercised here only for statement generation; on a real
cluster these run verbatim.

Layout rationale at 10^12 rows / ~100 TB:

* ``days(event_time)`` partitioning: the feature layer is point-in-time;
  every backfill/incremental run prunes to a date range.
* ``bucket(512, doc_id)``: co-locates each entity's timeline (as-of joins
  and windows shuffle-free when both sides share the bucketing) while
  bounding file counts — NEVER identity-partition by doc_id (10^8 values
  = small-files death).
* ``source`` as a sort column inside files: zipf-hot sources cluster for
  row-group skipping, without becoming a partition (too skewed).
* snapshot-id feeds the lineage table (plans/lineage.py) so resume is
  pinned to an exact input snapshot.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from go_html_transform_spark.sources.sinks import iceberg_available

SEQUENCES_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.{db}.sequences (
    doc_id      STRING  NOT NULL,
    event_time  TIMESTAMP NOT NULL,
    tokens      ARRAY<INT>,
    n_tok       INT,
    source      STRING,
    event_id    BIGINT,
    event_type  STRING,
    value       DOUBLE
)
USING iceberg
PARTITIONED BY (days(event_time), bucket({n_buckets}, doc_id))
TBLPROPERTIES (
    'write.target-file-size-bytes' = '536870912',
    'write.distribution-mode' = 'hash',
    'write.parquet.compression-codec' = 'zstd',
    'format-version' = '2'
)
"""

LINEAGE_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.{db}.feature_lineage (
    stage            STRING,
    bucket           INT,
    n_rows           BIGINT,
    checksum         BIGINT,
    snapshot_id      STRING,
    run_id           STRING,
    completed_at_us  BIGINT
)
USING iceberg
PARTITIONED BY (stage)
"""

SESSION_CONF = {
    "spark.sql.extensions": (
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
    ),
    "spark.sql.catalog.ghts": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.ghts.type": "hive",
}


def sequences_ddl(catalog: str = "ghts", db: str = "feats", n_buckets: int = 512) -> str:
    return SEQUENCES_DDL.format(catalog=catalog, db=db, n_buckets=n_buckets)


def lineage_ddl(catalog: str = "ghts", db: str = "feats") -> str:
    return LINEAGE_DDL.format(catalog=catalog, db=db)


def create_tables(spark: SparkSession, catalog: str = "ghts", db: str = "feats") -> bool:
    """Run the DDL when an Iceberg catalog is configured; returns False in
    environments without the runtime (sandbox)."""
    if not iceberg_available(spark):
        return False
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{db}")
    spark.sql(sequences_ddl(catalog, db))
    spark.sql(lineage_ddl(catalog, db))
    return True


def current_snapshot_id(spark: SparkSession, table: str) -> str | None:
    if not iceberg_available(spark):
        return None
    row = spark.sql(
        f"SELECT snapshot_id FROM {table}.snapshots ORDER BY committed_at DESC LIMIT 1"
    ).first()
    return str(row["snapshot_id"]) if row else None
