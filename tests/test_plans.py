"""Physical-plan audits: the scale-critical properties asserted against
.explain() output (SURVEY.md §4) — pushdown, broadcast, exchange counts,
and no-Python-in-the-hot-path."""

import pytest
from pyspark.sql import functions as F

from go_html_transform_spark.operators.asof import asof_join
from go_html_transform_spark.plans.pipeline import Transformer
from go_html_transform_spark.sources import tables as S

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_sequences_dim_join_is_broadcast(spark):
    p = plan_of(S.sequences(spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p  # the fact side must never shuffle


def test_dim_filter_pushes_to_parquet_scan(spark):
    import re

    seq = S.sequences(spark, SF_DIR).filter(F.col("source") == "src0")
    p = plan_of(seq)
    # the dim-side predicate must reach the documents parquet reader
    assert re.search(r"DataFilters: \[[^\]]*\(source#\d+ = src0\)", p), p


def test_fact_scan_prunes_columns(spark):
    out = S.sequences(spark, SF_DIR).select("doc_id", "event_time")
    p = plan_of(out)
    # events scan must read only the join key + ts, not value/props/...
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>.*events", p) or re.search(
        r"events[^\n]*ReadSchema: struct<([^>]*)>", p
    )
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    event_scan = [s for s in scans if "user_id" in s]
    assert event_scan and all("props" not in s and "value" not in s for s in event_scan), p


def test_array_native_match_has_no_exchange(spark):
    seq = S.sequences(spark, SF_DIR)
    m = Transformer(seq).matched("t756 > t982")
    p = plan_of(m)
    # per-row kernel: zero shuffle (the dim BroadcastExchange is fine)
    assert "Exchange hashpartitioning" not in p, p
    assert "Pandas" not in p and "PythonUDF" not in p  # zero Python


def test_asof_union_strategy_is_jvm_only(spark):
    seq = S.sequences(spark, SF_DIR).select("doc_id", "event_time", "event_id", "n_tok")
    lab = S.labels(spark, SF_DIR)
    j = asof_join(seq, lab, direction="backward")  # default union strategy
    p = plan_of(j)
    assert "Pandas" not in p and "PythonUDF" not in p, p
    # one logical shuffle for the (entity) window — AQE may represent it as
    # a single Exchange feeding the union's both branches
    assert p.count("Exchange hashpartitioning") <= 2, p
    # the bucketed (hot-entity) plan runs the same kernel: no Python either
    for direction in ("backward", "forward", "nearest"):
        p = plan_of(
            asof_join(seq, lab, direction=direction, strategy="bucketed")
        )
        for op in ("FlatMapCoGroupsInPandas", "ArrowEvalPython", "PythonUDF"):
            assert op not in p, (direction, op, p)


def test_asof_then_features_reuses_partitioning(spark):
    """asof(union) partitions by doc_id; add_features windows over the same
    key — the second stage must NOT add another hash exchange."""
    from go_html_transform_spark.operators.window import add_features

    seq = S.sequences(spark, SF_DIR).select(
        "doc_id", "event_time", "event_id", "n_tok", "value"
    )
    lab = S.labels(spark, SF_DIR)
    out = add_features(asof_join(seq, lab, direction="backward"))
    p = plan_of(out)
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_transform_chain_stays_in_one_stage(spark):
    """ApplyAll chains execute in ONE stage — the reference's 'walk the
    tree once' TODO (transform.go:114). Catalyst keeps the rule projections
    as separate Project nodes (collapsing would duplicate the expensive
    match expression — each rule reads the previous tokens 3x), but they
    pipeline in the same whole-stage-codegen stage: zero exchanges, zero
    extra passes over the data."""
    from go_html_transform_spark.operators import transforms as X
    from go_html_transform_spark.plans.pipeline import Transform

    seq = S.sequences(spark, SF_DIR)
    t1 = Transform.parse("t982", lambda t, p: X.append_children(t, [1001]))
    t2 = Transform.parse("t756", lambda t, p: X.prepend_children(t, [1002]))
    out = Transformer(seq).apply_all(t1, t2).df.select("doc_id", "tokens")
    p = plan_of(out)
    assert "Exchange hashpartitioning" not in p, p
    # both rule projections pipeline back-to-back — nothing between them
    assert "Project [" in p and "Sort" not in p and "Aggregate" not in p, p


def test_exact_dedup_is_partial_agg_no_window(spark):
    """exact_dedup must be ONE partial-aggregated exchange led by the
    8-byte xxhash64(key): map-side combine collapses duplicates BEFORE
    the shuffle (a key duplicated 10^9 times ships one candidate per
    input partition), and no Window/Sort may appear — windows cannot be
    AQE-skew-split, so the old lag-over-window form let one hot key
    serialize the stage."""
    import re

    from go_html_transform_spark.operators.dedup import exact_dedup

    doc = S.load_table(spark, SF_DIR, "documents")
    out = exact_dedup(doc, "doc_id", F.col("text"))
    p = plan_of(out)
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    assert parts, p
    for keys in parts:
        assert "__kh" in keys, p
    # partial (map-side) min_by before the exchange, final after it
    assert re.search(r"partial_min_by|partial\(min_by", p) or (
        p.count("Aggregate") >= 2 and "min_by" in p
    ), p
    assert "Window" not in p, p
    # correctness twin: collisions keep distinct keys apart (forced-collision
    # unit lives in tests/test_dedup_similarity.py)


def test_sequences_large_dim_takes_salted_sort_merge(spark):
    """When the tokenized dim exceeds the broadcast ceiling, sequences()
    must auto-switch to the salted sort-merge branch: no broadcast of the
    big dim, salt in the join keys (one hot doc_key cannot pin a single
    sort-merge partition), and identical results."""
    big = S.sequences(spark, SF_DIR, dim_bytes=S.BROADCAST_DIM_MAX_BYTES + 1)
    p = plan_of(big)
    assert "SortMergeJoin" in p, p
    assert "BroadcastHashJoin" not in p, p
    assert "__salt" in p, p
    small = S.sequences(spark, SF_DIR)
    assert big.count() == small.count()
    a = {r.event_id for r in big.select("event_id").collect()}
    b = {r.event_id for r in small.select("event_id").collect()}
    assert a == b


def test_resample_ffill_single_window_exchange(spark):
    """The tick grid + as-of fill must cost ONE hashpartitioning exchange
    for the window (plus the span aggregation's partial/final pair) and
    stay Python-free."""
    from go_html_transform_spark.operators.window import resample_ffill

    seq = S.sequences(spark, SF_DIR).select("doc_id", "event_time", "value")
    p = plan_of(resample_ffill(seq, ["value"], step_seconds=3600))
    # exchanges: span agg (1) + window partitioning (1); the union must
    # NOT add a third repartitioning of the data
    assert p.count("Exchange hashpartitioning") <= 2, p
    assert "Python" not in p and "ArrowEval" not in p, p


def test_range_join_is_equi_join_on_bucket(spark):
    """range_join on real tables: equi-join keyed on the bucket column,
    never a nested-loop/cartesian fallback."""
    from go_html_transform_spark.operators import rangejoin as RJ

    ev = S.load_table(spark, SF_DIR, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", us.alias("s_us"))
        .withColumn("e_us", F.col("s_us") + F.lit(3600 * RJ.MICROS))
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("t_us")
    )
    p = plan_of(
        RJ.range_join(
            probes, clicks, on="user_id", probe_time_us="t_us",
            start_us="s_us", end_us="e_us", width_us=3600 * RJ.MICROS,
        )
    )
    assert "NestedLoop" not in p and "Cartesian" not in p, p
    assert "__bk" in p  # the bucket is part of the join key
