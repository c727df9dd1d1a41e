"""Hypothesis property test for the as-of join: random per-entity
timelines (duplicate timestamps included) x direction x tolerance x
strictness, every strategy against the pandas.merge_asof oracle.

The union and bucketed strategies must agree with each other AND
with pandas on every generated case — including the right-side
duplicate-(key,time) resolution (row-lexicographic max) which the
oracle reproduces by pre-deduping.
"""

import datetime as dt

import os

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from go_html_transform_spark.operators.asof import asof_join

EPOCH = dt.datetime(2024, 1, 1)


def _ts(sec: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=int(sec))


entities = st.sampled_from(["a", "b", "c"])

left_rows = st.lists(
    st.tuples(entities, st.integers(0, 500)),
    min_size=1,
    max_size=25,
)
# right side: (entity, time, value) — small time domain forces duplicate
# (entity, time) pairs so the dedupe tie-break is exercised
right_rows = st.lists(
    st.tuples(entities, st.integers(0, 500), st.integers(-5, 5)),
    min_size=0,
    max_size=25,
)


@settings(
    # GHTS_DEEP_FUZZ=N widens the sweep for out-of-band soak runs; the
    # default stays CI-sized
    max_examples=int(os.environ.get("GHTS_DEEP_FUZZ", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    lrows=left_rows,
    rrows=right_rows,
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    tolerance=st.sampled_from([None, 30.0]),
    strict=st.booleans(),
)
def test_asof_matches_pandas_oracle(spark, lrows, rrows, direction, tolerance, strict):
    if strict and direction == "nearest":
        # strict nearest is not part of the engine surface (pandas also
        # rejects allow_exact_matches=False semantics asymmetrically here)
        strict = False

    left = spark.createDataFrame(
        [(e, _ts(s), i) for i, (e, s) in enumerate(lrows)],
        "doc_id string, event_time timestamp, event_id long",
    )
    right = spark.createDataFrame(
        [(e, _ts(s), float(v)) for e, s, v in rrows],
        "doc_id string, obs_time timestamp, label_value double",
    ) if rrows else spark.createDataFrame(
        [], "doc_id string, obs_time timestamp, label_value double"
    )

    # pandas oracle: dedupe right to max value per (key, time), then
    # per-key merge_asof (sorted by time)
    lp = pd.DataFrame(
        {"doc_id": [e for e, _ in lrows],
         "event_time": [_ts(s) for _, s in lrows],
         "event_id": range(len(lrows))}
    ).sort_values(["event_time", "event_id"], kind="mergesort")
    rp = pd.DataFrame(
        {"doc_id": [e for e, _, _ in rrows],
         "obs_time": [_ts(s) for _, s, _ in rrows],
         "label_value": [float(v) for _, _, v in rrows]}
    )
    if len(rp):
        rp = (
            rp.groupby(["doc_id", "obs_time"], as_index=False)["label_value"]
            .max()
            .sort_values("obs_time", kind="mergesort")
        )
        exp = pd.merge_asof(
            lp,
            rp,
            left_on="event_time",
            right_on="obs_time",
            by="doc_id",
            direction=direction,
            tolerance=pd.Timedelta(seconds=tolerance) if tolerance else None,
            allow_exact_matches=not strict,
        )
        expected = dict(zip(exp["event_id"], exp["label_value"]))
    else:
        expected = {i: float("nan") for i in range(len(lrows))}

    for strategy in ("union", "bucketed"):
        out = asof_join(
            left,
            right,
            on="doc_id",
            left_time="event_time",
            right_time="obs_time",
            direction=direction,
            tolerance=tolerance,
            strategy=strategy,
            bucket_seconds=120,  # several buckets across the 500 s domain
            allow_exact_matches=not strict,
        )
        got = {r.event_id: r.label_value for r in out.collect()}
        assert set(got) == set(expected), strategy
        for k, ev in expected.items():
            gv = got[k]
            if pd.isna(ev):
                assert gv is None, (strategy, k, gv, ev)
            else:
                assert gv == ev, (strategy, k, gv, ev)


# ---------------------------------------------------------------------------
# asof_join_many: the one-pass k-table form must agree with k independent
# single-table joins (each already pinned to pandas above) on every
# generated case — including per-table tolerances and duplicate
# (key, time) rows in both right tables.

from go_html_transform_spark.operators.asof import asof_join_many  # noqa: E402


@settings(
    max_examples=int(os.environ.get("GHTS_DEEP_FUZZ", "10")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    lrows=left_rows,
    r1rows=right_rows,
    r2rows=right_rows,
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    tol1=st.sampled_from([None, 30.0]),
    strict=st.booleans(),
)
def test_asof_many_matches_chained(spark, lrows, r1rows, r2rows, direction, tol1, strict):
    if strict and direction == "nearest":
        strict = False
    aem = not strict

    left = spark.createDataFrame(
        [(e, _ts(s), i) for i, (e, s) in enumerate(lrows)],
        "doc_id string, event_time timestamp, event_id long",
    )

    def mk_right(rows):
        return spark.createDataFrame(
            [(e, _ts(s), float(v)) for e, s, v in rows],
            "doc_id string, obs_time timestamp, v double",
        ) if rows else spark.createDataFrame(
            [], "doc_id string, obs_time timestamp, v double"
        )

    r1, r2 = mk_right(r1rows), mk_right(r2rows)
    tolerances = {"t1": tol1} if tol1 is not None else {}
    many = asof_join_many(
        left, {"t1": r1, "t2": r2}, direction=direction,
        tolerances=tolerances, allow_exact_matches=aem,
    )
    from pyspark.sql import functions as F
    c1 = asof_join(
        left, r1, direction=direction, tolerance=tol1, allow_exact_matches=aem
    ).select("event_id", F.col("v").alias("t1_v"))
    c2 = asof_join(
        left, r2, direction=direction, allow_exact_matches=aem
    ).select("event_id", F.col("v").alias("t2_v"))
    got = {r.event_id: (r.t1_v, r.t2_v) for r in many.collect()}
    want1 = {r.event_id: r.t1_v for r in c1.collect()}
    want2 = {r.event_id: r.t2_v for r in c2.collect()}
    assert got == {i: (want1[i], want2[i]) for i in want1}
