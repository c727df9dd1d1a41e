"""M4 — as-of join correctness vs a pandas.merge_asof oracle (FIXTURES.md F2):
directions x tolerance x strategy x bucket-boundary cases."""

import datetime as dt
import random

import pandas as pd
import pytest

from go_html_transform_spark.operators.asof import asof_join

BASE = dt.datetime(2026, 1, 1)


def _mk_fixture(seed=42, n_docs=12, n_left=8, n_right=5):
    """Left/right with deliberately offset irregular times; some doc_ids
    missing from the right (no-match paths)."""
    rng = random.Random(seed)
    left, right = [], []
    for i in range(n_docs):
        d = f"d{i:03d}"
        t = 0
        for _ in range(n_left):
            t += rng.randrange(60, 7200)
            left.append((d, BASE + dt.timedelta(seconds=t), float(t)))
        if i % 4 == 3:
            continue  # missing entity on the right
        t = rng.randrange(-1800, 1800)
        for _ in range(n_right):
            t += rng.randrange(300, 14400)
            right.append((d, BASE + dt.timedelta(seconds=t), round(t / 10.0, 1)))
    # duplicate right timestamp for dedup determinism check
    if right:
        d0, t0, _ = right[0]
        right.append((d0, t0, -999.0))
    return left, right


def _spark_dfs(spark, left, right):
    l = spark.createDataFrame(left, "doc_id string, event_time timestamp, lval double")
    r = spark.createDataFrame(right, "doc_id string, obs_time timestamp, label_value double")
    return l, r


def _pandas_oracle(left, right, direction, tolerance):
    lp = pd.DataFrame(left, columns=["doc_id", "event_time", "lval"]).sort_values(
        "event_time", kind="mergesort"
    )
    rp = pd.DataFrame(right, columns=["doc_id", "obs_time", "label_value"])
    # engine semantics: right deduped to one row per (key, time) keeping max
    rp = (
        rp.groupby(["doc_id", "obs_time"], as_index=False)["label_value"]
        .max()
        .sort_values("obs_time", kind="mergesort")
    )
    tol = pd.Timedelta(seconds=tolerance) if tolerance is not None else None
    out = pd.merge_asof(
        lp,
        rp,
        left_on="event_time",
        right_on="obs_time",
        by="doc_id",
        direction=direction,
        tolerance=tol,
    )
    return {
        (r.doc_id, r.event_time): (None if pd.isna(r.label_value) else r.label_value)
        for r in out.itertuples()
    }


def _engine_result(df):
    return {
        (r.doc_id, r.event_time): r.label_value for r in df.collect()
    }


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("tolerance", [None, 600])
@pytest.mark.parametrize("strategy", ["union", "bucketed"])
def test_asof_matches_pandas(spark, direction, tolerance, strategy):
    left, right = _mk_fixture()
    l, r = _spark_dfs(spark, left, right)
    got = asof_join(
        l,
        r,
        direction=direction,
        tolerance=tolerance,
        strategy=strategy,
        bucket_seconds=3600,  # small buckets -> many carries exercised
    )
    assert _engine_result(got) == _pandas_oracle(left, right, direction, tolerance)


def test_asof_empty_right(spark):
    left, _ = _mk_fixture()
    l, r = _spark_dfs(spark, left, [])
    for strategy in ("union", "bucketed"):
        got = asof_join(l, r, strategy=strategy)
        res = _engine_result(got)
        assert len(res) == len(left)
        assert all(v is None for v in res.values())


def test_asof_carry_across_many_empty_buckets(spark):
    """A right row many buckets before the left row must still be visible
    (the carry is a running last over ALL earlier buckets, not just b-1)."""
    left = [("d0", BASE + dt.timedelta(days=30), 1.0)]
    right = [("d0", BASE, 42.0)]
    l, r = _spark_dfs(spark, left, right)
    got = asof_join(l, r, strategy="bucketed", bucket_seconds=3600)
    assert list(_engine_result(got).values()) == [42.0]


def test_asof_forward_carry(spark):
    left = [("d0", BASE, 1.0)]
    right = [("d0", BASE + dt.timedelta(days=30), 43.0)]
    l, r = _spark_dfs(spark, left, right)
    got = asof_join(l, r, direction="forward", strategy="bucketed", bucket_seconds=3600)
    assert list(_engine_result(got).values()) == [43.0]
    # backward direction must NOT see the future row
    got_b = asof_join(l, r, direction="backward", strategy="bucketed", bucket_seconds=3600)
    assert list(_engine_result(got_b).values()) == [None]


def test_asof_exact_timestamp_inclusive(spark):
    """merge_asof is inclusive: a right row AT the left timestamp matches
    in every direction — zero leakage means 'no data after t', data AT t
    is legal."""
    left = [("d0", BASE, 1.0)]
    right = [("d0", BASE, 7.0)]
    l, r = _spark_dfs(spark, left, right)
    for direction in ("backward", "forward", "nearest"):
        got = asof_join(l, r, direction=direction)
        assert list(_engine_result(got).values()) == [7.0]


def test_asof_right_dedup_deterministic(spark):
    """Duplicate (key, time) on the right: engine keeps max(value) — the
    -999 decoy must never win."""
    left, right = _mk_fixture()
    l, r = _spark_dfs(spark, left, right)
    got = asof_join(l, r, direction="backward")
    assert -999.0 not in set(_engine_result(got).values())


def test_asof_duplicate_edge_rows_carried_keep_max(spark):
    """Duplicate right rows at a bucket's edge time, carried into a far
    later (earlier) bucket: the row-lexicographic max payload wins, as
    it does inside one bucket and in the union plan; a larger payload
    at a non-edge time of the same bucket must not."""
    m = lambda minutes: BASE + dt.timedelta(minutes=minutes)  # noqa: E731
    for direction, edge, decoy, shift in (
        ("backward", m(30), m(10), 2), ("forward", m(10), m(30), -2)
    ):
        r = spark.createDataFrame(
            [("d0", edge, 1.0, "z"), ("d0", edge, 2.0, "a"),
             ("d0", edge, 2.0, "b"), ("d0", decoy, 9.0, "z")],
            "doc_id string, obs_time timestamp, label_value double, tag string",
        )
        l = spark.createDataFrame(
            [("d0", BASE + dt.timedelta(days=shift), 1.0)],
            "doc_id string, event_time timestamp, lval double",
        )
        for strategy in ("union", "bucketed"):
            got = asof_join(
                l, r, direction=direction, strategy=strategy, bucket_seconds=3600
            ).collect()
            assert [(g.label_value, g.tag) for g in got] == [(2.0, "b")], (
                direction, strategy,
            )


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("strategy", ["union", "bucketed"])
def test_asof_strict_no_exact_matches(spark, direction, strategy):
    """allow_exact_matches=False: STRICT point-in-time (a feature may only
    read data strictly before/after its own timestamp) — pandas parity."""
    left, right = _mk_fixture()
    # plant exact-timestamp collisions so strictness is actually exercised
    right = right + [(d, t, 123.0) for d, t, _v in left[::7]]
    l, r = _spark_dfs(spark, left, right)
    got = asof_join(l, r, direction=direction, strategy=strategy,
                    bucket_seconds=3600, allow_exact_matches=False)

    import pandas as pd
    lp = pd.DataFrame(left, columns=["doc_id", "event_time", "lval"]).sort_values(
        "event_time", kind="mergesort")
    rp = (
        pd.DataFrame(right, columns=["doc_id", "obs_time", "label_value"])
        .groupby(["doc_id", "obs_time"], as_index=False)["label_value"].max()
        .sort_values("obs_time", kind="mergesort")
    )
    exp = pd.merge_asof(lp, rp, left_on="event_time", right_on="obs_time",
                        by="doc_id", direction=direction,
                        allow_exact_matches=False)
    expected = {
        (r_.doc_id, r_.event_time): (None if pd.isna(r_.label_value) else r_.label_value)
        for r_ in exp.itertuples()
    }
    assert _engine_result(got) == expected


def test_asof_strict_bucketed(spark):
    left = [("d0", BASE, 1.0)]
    right = [("d0", BASE, 7.0), ("d0", BASE - dt.timedelta(seconds=5), 3.0)]
    l, r = _spark_dfs(spark, left, right)
    got = asof_join(l, r, strategy="bucketed", bucket_seconds=3600,
                    allow_exact_matches=False)
    assert list(_engine_result(got).values()) == [3.0]  # exact-at-t excluded


def test_asof_zero_leakage_property(spark):
    """North-rule leakage property on the as-of itself: perturbing every
    right row AFTER a left timestamp must not change that row's backward
    join result."""
    left, right = _mk_fixture()
    l, r = _spark_dfs(spark, left, right)
    base = _engine_result(asof_join(l, r, direction="backward"))

    # inject corrupted rows far in the future of every left timestamp:
    # a leak-free backward join must be bit-identical with or without them
    r_plus = r.unionByName(
        spark.createDataFrame(
            [(d, t + dt.timedelta(days=900), -777.0) for d, t, v in right],
            "doc_id string, obs_time timestamp, label_value double",
        )
    )
    got = _engine_result(asof_join(l, r_plus, direction="backward"))
    assert got == base  # future rows invisible to backward as-of


def test_asof_null_time_rows_keep_side_ordering(spark):
    """NULL-time rows all land in one ordering group where only the
    side tag separates left from right. Pinned semantics: NULLS FIRST
    makes a NULL time read as -infinity — backward INCLUSIVE left rows
    (NULL-time ones included, via the side tag) see the NULL-time right
    payload; under STRICT the NULL-time left row does not (right sorts
    after left inside the NULL group) but later rows still do. Forward,
    the NULL-time left row sees the NULL-time right row (inclusive) or
    the earliest timed one (strict), and no timed left row ever sees a
    NULL-time right row. The bucketed plan must agree: its NULL bucket
    comes first going backward and last going forward, so the NULL-time
    right row carries into every later bucket and the earliest timed
    right row carries into the NULL bucket."""
    l = spark.createDataFrame(
        [
            ("d1", None, 1.0),
            ("d1", BASE, 2.0),
            ("d1", BASE + dt.timedelta(hours=3), 3.0),
        ],
        "doc_id string, event_time timestamp, lval double",
    )
    r = spark.createDataFrame(
        [("d1", None, 100.0), ("d1", BASE + dt.timedelta(hours=2), 200.0)],
        "doc_id string, obs_time timestamp, label_value double",
    )
    # (direction, allow_exact_matches) -> label_value per lval
    want = {
        ("backward", True): {1.0: 100.0, 2.0: 100.0, 3.0: 200.0},
        ("backward", False): {1.0: None, 2.0: 100.0, 3.0: 200.0},
        ("forward", True): {1.0: 100.0, 2.0: 200.0, 3.0: None},
        ("forward", False): {1.0: 200.0, 2.0: 200.0, 3.0: None},
    }
    for strategy in ("union", "bucketed"):
        for (direction, exact), expected in want.items():
            got = {
                r_.lval: r_.label_value
                for r_ in asof_join(
                    l, r, strategy=strategy, bucket_seconds=3600,
                    direction=direction, allow_exact_matches=exact,
                ).collect()
            }
            assert got == expected, (strategy, direction, exact)


def test_asof_numeric_time_submicrosecond_resolution(spark):
    """Numeric (double) time columns must order at FULL precision: a
    micros sort key would quantize 1.0000001 and 1.0000004 into one
    microsecond, letting a backward match leak a right row that is
    actually AFTER the left row (pandas merge_asof on the raw doubles
    keeps them apart)."""
    l = spark.createDataFrame(
        [("d1", 1.0000002, 1.0)], "doc_id string, event_time double, lval double"
    )
    r = spark.createDataFrame(
        [("d1", 1.0000001, 1.0), ("d1", 1.0000004, 2.0)],
        "doc_id string, obs_time double, label_value double",
    )
    for direction, want in (("backward", 1.0), ("forward", 2.0)):
        got = asof_join(
            l, r, strategy="union", direction=direction
        ).collect()[0]
        assert got.label_value == want, direction


def test_asof_invalid_args(spark):
    left, right = _mk_fixture()
    l, r = _spark_dfs(spark, left, right)
    with pytest.raises(ValueError):
        asof_join(l, r, direction="sideways")
    for strategy in ("quantum", "cogroup"):
        with pytest.raises(ValueError):
            asof_join(l, r, strategy=strategy)


# ---------------------------------------------------------------------------
# bucketized range (interval) join — operators/rangejoin.py
# ---------------------------------------------------------------------------


def test_range_join_matches_naive_inequality_join(spark):
    """Property: the bucketized plan emits exactly the pairs of the naive
    inequality join, each exactly once — across bucket-boundary,
    multi-bucket-interval, overlapping-interval, exact-start (kept) and
    exact-end (dropped, half-open) cases."""
    from go_html_transform_spark.operators import rangejoin as RJ

    W = 100  # bucket width in fake-µs
    build = spark.createDataFrame(
        [
            (1, 50, 150),    # spans buckets 0-1
            (1, 140, 160),   # overlaps the first interval
            (1, 300, 301),   # width-1 interval
            (1, 400, 400),   # empty (end == start) -> no buckets, no matches
            (2, 0, 1000),    # covers 10 buckets
        ],
        "k int, s_us long, e_us long",
    )
    probe = spark.createDataFrame(
        [(1, 50), (1, 145), (1, 150), (1, 300), (1, 301), (1, 400), (2, 999), (2, 1000), (3, 100)],
        "k int, t_us long",
    )
    got = sorted(
        (r.k, r.t_us, r.s_us, r.e_us)
        for r in RJ.range_join(
            probe, build, on="k", probe_time_us="t_us",
            start_us="s_us", end_us="e_us", width_us=W,
        ).collect()
    )
    naive = sorted(
        (r.k, r.t_us, r.s_us, r.e_us)
        for r in probe.join(build, "k")
        .filter("s_us <= t_us AND t_us < e_us")
        .collect()
    )
    assert got == naive
    # pin the cases the bucketization must not distort
    assert (1, 50, 50, 150) in got      # exact start kept
    assert (1, 150, 50, 150) not in got  # exact end dropped (half-open)
    assert (1, 145, 50, 150) in got and (1, 145, 140, 160) in got  # overlap: both
    assert not any(k == 3 for k, *_ in got)  # key with no intervals
    assert len(got) == len(set(got))  # exactly-once, no bucket duplicates


def test_range_join_plan_is_equi_join(spark):
    """The physical plan must be a hash/sort-merge EQUI-join on
    (key, bucket) — never BroadcastNestedLoopJoin/CartesianProduct."""
    from go_html_transform_spark.operators import rangejoin as RJ

    build = spark.range(100).selectExpr(
        "CAST(id % 7 AS INT) k", "id * 1000 AS s_us", "id * 1000 + 5000 AS e_us"
    )
    probe = spark.range(500).selectExpr(
        "CAST(id % 7 AS INT) k", "id * 200 AS t_us"
    )
    df = RJ.range_join(
        probe, build, on="k", probe_time_us="t_us",
        start_us="s_us", end_us="e_us", width_us=5000,
    )
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in physical and "Cartesian" not in physical


def test_interval_overlap_join_matches_naive(spark):
    """Overlap join parity with the naive inequality join, exactly-once —
    the overlap-start-bucket residual must dedup multi-bucket meetings
    without a distinct."""
    import random

    from go_html_transform_spark.operators import rangejoin as RJ

    rng = random.Random(7)
    W = 64
    lrows = [
        (rng.randrange(3), (s := rng.randrange(0, 900)), s + rng.randrange(1, 300), i)
        for i in range(60)
    ]
    rrows = [
        (rng.randrange(3), (s := rng.randrange(0, 900)), s + rng.randrange(1, 300), i)
        for i in range(60)
    ]
    left = spark.createDataFrame(lrows, "k int, ls long, le long, lid int")
    right = spark.createDataFrame(rrows, "k int, rs long, re long, rid int")
    got = sorted(
        (r.k, r.lid, r.rid)
        for r in RJ.interval_overlap_join(
            left, right, on="k", left_start="ls", left_end="le",
            right_start="rs", right_end="re", width_us=W,
        ).collect()
    )
    naive = sorted(
        (r.k, r.lid, r.rid)
        for r in left.join(right, "k").filter("ls < re AND rs < le").collect()
    )
    assert got == naive
    assert len(got) == len(set(got))  # exactly once despite multi-bucket overlap


def test_range_join_hypothesis_parity(spark):
    """Randomized sweep over bucket widths and interval shapes: the
    bucketized range join must equal the naive join for every width."""
    import random

    from go_html_transform_spark.operators import rangejoin as RJ

    rng = random.Random(99)
    rows_b = [
        (rng.randrange(4), (s := rng.randrange(0, 2000)), s + rng.randrange(0, 500), i)
        for i in range(80)
    ]
    rows_p = [(rng.randrange(4), rng.randrange(0, 2500), i) for i in range(120)]
    build = spark.createDataFrame(rows_b, "k int, s_us long, e_us long, bid int")
    probe = spark.createDataFrame(rows_p, "k int, t_us long, pid int")
    naive = sorted(
        (r.k, r.pid, r.bid)
        for r in probe.join(build, "k").filter("s_us <= t_us AND t_us < e_us").collect()
    )
    for w in (1, 7, 100, 512, 4096):
        got = sorted(
            (r.k, r.pid, r.bid)
            for r in RJ.range_join(
                probe, build, on="k", probe_time_us="t_us",
                start_us="s_us", end_us="e_us", width_us=w,
            ).collect()
        )
        assert got == naive, f"width={w}"


def test_range_join_salted_parity(spark):
    """n_salts > 1 must not change the result set — only the shuffle key
    cardinality. Parity across salt counts on a hot-key fixture (one key
    owns 80% of probes in one bucket)."""
    import random

    from go_html_transform_spark.operators import rangejoin as RJ

    rng = random.Random(13)
    W = 1000
    build = spark.createDataFrame(
        [(0, i * 100, i * 100 + 500, i) for i in range(20)]
        + [(1, 0, 2000, 100)],
        "k int, s_us long, e_us long, bid int",
    )
    probe = spark.createDataFrame(
        [(0, rng.randrange(0, 900), i) for i in range(400)]  # hot cell
        + [(1, rng.randrange(0, 2500), 1000 + i) for i in range(50)],
        "k int, t_us long, pid int",
    )
    base = sorted(
        (r.k, r.pid, r.bid)
        for r in RJ.range_join(
            probe, build, on="k", probe_time_us="t_us",
            start_us="s_us", end_us="e_us", width_us=W,
        ).collect()
    )
    for n_salts in (2, 4, 7):
        salted = sorted(
            (r.k, r.pid, r.bid)
            for r in RJ.range_join(
                probe, build, on="k", probe_time_us="t_us",
                start_us="s_us", end_us="e_us", width_us=W, n_salts=n_salts,
            ).collect()
        )
        assert salted == base, n_salts


def test_asof_join_multi_composite_key(spark):
    """Composite (user, device) as-of == per-pair pandas merge_asof; the
    string-concat collision case ('a','bc') vs ('ab','c') resolves
    correctly; key columns survive into the output."""
    import datetime as dt

    import pandas as pd

    from go_html_transform_spark.operators.asof import asof_join_multi

    B = dt.datetime(2026, 1, 1)

    def t(s):
        return B + dt.timedelta(seconds=s)

    left_rows = [
        ("a", "bc", t(10), 1),
        ("ab", "c", t(10), 2),
        ("a", "bc", t(40), 3),
        ("x", "y", t(5), 4),
    ]
    right_rows = [
        ("a", "bc", t(8), 100.0),
        ("a", "bc", t(35), 200.0),
        ("ab", "c", t(9), 300.0),
    ]
    left = spark.createDataFrame(
        left_rows, "user string, device string, event_time timestamp, event_id int"
    )
    right = spark.createDataFrame(
        right_rows, "user string, device string, obs_time timestamp, label double"
    )
    out = asof_join_multi(
        left, right, on=["user", "device"], direction="backward"
    )
    got = {r.event_id: r.label for r in out.collect()}
    assert got == {1: 100.0, 2: 300.0, 3: 200.0, 4: None}
    assert {"user", "device"} <= set(out.columns)
    # the plan-of-record path shuffles on the raw struct fields — no
    # per-row json serialization in the exchange key
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "to_json" not in plan
    # the bucketed plan agrees on the composite key
    alt = asof_join_multi(
        left, right, on=["user", "device"], direction="backward",
        strategy="bucketed", bucket_seconds=20,
    )
    assert {r.event_id: r.label for r in alt.collect()} == got
    # pandas oracle over the same composite key
    lp = pd.DataFrame(left_rows, columns=["user", "device", "t", "event_id"])
    rp = pd.DataFrame(right_rows, columns=["user", "device", "t", "label"])
    m = pd.merge_asof(
        lp.sort_values("t"), rp.sort_values("t"),
        on="t", by=["user", "device"], direction="backward",
    )
    want = {
        int(r.event_id): (None if pd.isna(r.label) else float(r.label))
        for r in m.itertuples()
    }
    assert got == want


# ---------------------------------------------------------------------------
# asof_join_many — k right tables in one exchange + one sort


def _mk_many_fixture(seed=7):
    """Two right tables over the shared entity space: r1 numeric labels
    (with duplicate (key, time) rows), r2 string tags with entities the
    left has never seen and vice versa."""
    left, r1 = _mk_fixture(seed=seed)
    rng = random.Random(seed + 1)
    r2 = []
    for i in range(0, 12, 2):  # only even entities present in r2
        d = f"d{i:03d}"
        t = rng.randrange(-1800, 1800)
        for _ in range(4):
            t += rng.randrange(300, 14400)
            r2.append((d, BASE + dt.timedelta(seconds=t), f"tag{t % 5}"))
    # duplicate (key, time) in r2 too: max-payload winner must match chain
    if r2:
        d0, t0, _ = r2[0]
        r2.append((d0, t0, "zzz"))
        r2.append((d0, t0, "aaa"))
    return left, r1, r2


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("allow_exact", [True, False])
def test_asof_many_matches_chained_single_joins(spark, direction, allow_exact):
    """One-pass k-table enrichment == k chained asof_join calls, across
    every direction x exactness, with a per-table tolerance on r2 only
    and duplicate (key, time) rows in BOTH right tables."""
    from pyspark.sql import functions as F

    from go_html_transform_spark.operators.asof import asof_join_many

    left, r1, r2 = _mk_many_fixture()
    l = spark.createDataFrame(left, "doc_id string, event_time timestamp, lval double")
    d1 = spark.createDataFrame(r1, "doc_id string, obs_time timestamp, label_value double")
    d2 = spark.createDataFrame(r2, "doc_id string, obs_time timestamp, tag string")

    many = asof_join_many(
        l,
        {"lab": d1, "tg": d2},
        direction=direction,
        allow_exact_matches=allow_exact,
        tolerances={"tg": 3600.0},
    )
    c1 = asof_join(l, d1, direction=direction, allow_exact_matches=allow_exact)
    c2 = asof_join(
        c1, d2, direction=direction, allow_exact_matches=allow_exact, tolerance=3600.0
    )
    chain = c2.select(
        "doc_id", "event_time", "lval",
        F.col("label_value").alias("lab_label_value"),
        F.col("tag").alias("tg_tag"),
    )
    key = lambda r: (r.doc_id, r.event_time)  # noqa: E731
    got = {key(r): (r.lab_label_value, r.tg_tag) for r in many.collect()}
    want = {key(r): (r.lab_label_value, r.tg_tag) for r in chain.collect()}
    assert got == want


def test_asof_many_single_exchange_plan(spark):
    """The whole k-table enrichment must cost ONE hash exchange on the
    entity key (the chained form costs k); backward/forward stay a
    single sort, and no payload ever crosses into Python."""
    from go_html_transform_spark.operators.asof import asof_join_many

    left, r1, r2 = _mk_many_fixture()
    l = spark.createDataFrame(left, "doc_id string, event_time timestamp, lval double")
    d1 = spark.createDataFrame(r1, "doc_id string, obs_time timestamp, label_value double")
    d2 = spark.createDataFrame(r2, "doc_id string, obs_time timestamp, tag string")

    many = asof_join_many(l, {"lab": d1, "tg": d2})
    plan = many._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    chain = asof_join(asof_join(l, d1), d2, )
    chain_plan = chain._jdf.queryExecution().executedPlan().toString()
    assert chain_plan.count("Exchange hashpartitioning") == 2


def test_asof_many_arg_validation(spark):
    from go_html_transform_spark.operators.asof import asof_join_many

    l = spark.createDataFrame(
        [("a", BASE, 1.0)], "doc_id string, event_time timestamp, lval double"
    )
    r = spark.createDataFrame(
        [("a", BASE, 2.0)], "doc_id string, obs_time timestamp, lval double"
    )
    with pytest.raises(ValueError, match="at least one table"):
        asof_join_many(l, {})
    with pytest.raises(ValueError, match="unknown tables"):
        asof_join_many(l, {"x": r}, tolerances={"y": 1.0})
    # r's value column is 'lval' under name 'x' -> output col 'x_lval' is
    # fine; but a right named so the prefixed col hits a left col must fail
    l2 = l.withColumnRenamed("lval", "x_lval")
    with pytest.raises(ValueError, match="collision"):
        asof_join_many(l2, {"x": r})


def _mk_hot_fixture(seed=5, n_cold=10, n_hot_left=400, n_hot_right=300):
    """One entity owns ~50% of all rows (the serialized-window hazard
    strategy='auto' exists to detect)."""
    rng = random.Random(seed)
    left, right = [], []
    t = 0
    for _ in range(n_hot_left):
        t += rng.randrange(10, 120)
        left.append(("hot", BASE + dt.timedelta(seconds=t), float(t)))
    t = rng.randrange(-600, 600)
    for _ in range(n_hot_right):
        t += rng.randrange(20, 240)
        right.append(("hot", BASE + dt.timedelta(seconds=t), round(t / 10.0, 1)))
    for i in range(n_cold):
        d = f"c{i:03d}"
        t = 0
        for _ in range(30):
            t += rng.randrange(60, 3600)
            left.append((d, BASE + dt.timedelta(seconds=t), float(t)))
        t = rng.randrange(-900, 900)
        for _ in range(25):
            t += rng.randrange(120, 7200)
            right.append((d, BASE + dt.timedelta(seconds=t), round(t / 10.0, 1)))
    return left, right


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("tolerance", [None, 600])
@pytest.mark.parametrize("allow_exact", [True, False])
def test_asof_auto_strategy_hot_entity_parity(
    spark, direction, tolerance, allow_exact
):
    """VERDICT r4 next-round #4: strategy='auto' must (a) detect a hot
    entity from its one sampled aggregation and engage time-bucketing,
    and (b) return results identical to the union plan across the full
    direction x tolerance x strictness matrix."""
    left, right = _mk_hot_fixture()
    l, r = _spark_dfs(spark, left, right)
    base = asof_join(
        l, r, direction=direction, tolerance=tolerance,
        strategy="union", allow_exact_matches=allow_exact,
    )
    auto = asof_join(
        l, r, direction=direction, tolerance=tolerance,
        strategy="auto", allow_exact_matches=allow_exact,
        # force the hot regime at fixture scale: full sample, low bar
        auto_hot_rows=100,
    )
    assert _engine_result(auto) == _engine_result(base)


def test_asof_auto_select_decision_and_bucket_width(spark):
    """_auto_select: uniform fixture -> 'union'; hot fixture past the
    threshold -> 'bucketed' with a span-derived width in [1, span]."""
    from go_html_transform_spark.operators.asof import _auto_select

    left, right = _mk_hot_fixture()
    l, r = _spark_dfs(spark, left, right)
    s, _ = _auto_select(
        l, r, "doc_id", "event_time", "obs_time",
        auto_hot_rows=10**6, sample_frac=1.0,
    )
    assert s == "union"
    s, bsec = _auto_select(
        l, r, "doc_id", "event_time", "obs_time",
        auto_hot_rows=100, sample_frac=1.0,
    )
    assert s == "bucketed"
    span = int(
        (max(t for _, t, _ in left + right) - min(t for _, t, _ in left + right)).total_seconds()
    )
    assert 1 <= bsec <= span
    # at fixture scale (est_hot ~700 << the 64k default target) one
    # bucket is the CORRECT answer; a small target must actually slice
    s, bsec_small = _auto_select(
        l, r, "doc_id", "event_time", "obs_time",
        auto_hot_rows=100, sample_frac=1.0, target_bucket_rows=50,
    )
    assert s == "bucketed"
    hot_all = [t for d, t, _ in left + right if d == "hot"]
    hot_span = int((max(hot_all) - min(hot_all)).total_seconds())
    assert hot_span // bsec_small >= 2, (hot_span, bsec_small)
