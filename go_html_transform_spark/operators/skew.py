"""Skew handling for hot doc_id/source keys (north rule): explicit key
salting for aggregations and joins, complementing AQE's runtime skew-join
splitting (enabled in session.py).

Strategy notes (SURVEY.md §4 item 2):

* aggregations: two-phase salted aggregate — partial agg on (key, salt),
  final agg on key. Only worthwhile for algebraic aggs; Spark's own
  map-side partial aggregation already handles most cases, so this is for
  the pathological single-key-dominates distributions.
* joins: salt the fact side with a random-ish deterministic salt, EXPLODE
  the (small) dimension side over the full salt range, join on (key,salt).
* as-of: NEVER salt the entity key of an as-of/window stage — per-entity
  time order must survive. Salt only non-temporal stages; for hot entities
  in as-of, use the time-BUCKETED strategy instead (operators/asof.py) —
  that is the order-preserving analogue of salting.

Salts are deterministic (hash of a stable id column, not rand()) so
re-runs and lineage checksums are reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, id_col: str, n_salts: int = 16, salt_col: str = "__salt") -> DataFrame:
    """Deterministic salt in [0, n_salts) from a stable id column."""
    return df.withColumn(salt_col, F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("int"))


def salted_count(
    df: DataFrame,
    key: str,
    id_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase count for a skewed key: groupBy(key, salt) partial, then
    groupBy(key) final. Returns (key, cnt)."""
    salted = with_salt(df, id_col, n_salts)
    partial = salted.groupBy(key, "__salt").agg(F.count("*").alias("__c"))
    return partial.groupBy(key).agg(F.sum("__c").alias("cnt"))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    fact_id_col: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: fact gets a deterministic salt, dim is
    exploded over the salt range, join on (key, salt). Use when the dim is
    small-ish but too big (or the planner too conservative) to broadcast."""
    f = with_salt(fact, fact_id_col, n_salts)
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = f.join(d, [key, "__salt"], how)
    return out.drop("__salt")

