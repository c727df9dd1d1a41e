"""Distributed sort-merge as-of join (backward / forward / nearest, with
tolerance) — the temporal generalization of the reference's AdjacentSibling
"nearest preceding/following match" (/root/reference/css/selector/data.go:292-299),
and the centerpiece of the north rule (BASELINE.json).

OSS Spark SQL has no as-of join; the engine provides three physical
strategies (never per-row Python):

``strategy='union'`` (default — fully JVM-side, zero Python)
    Tag and union both sides, then one window pass per direction:
    ``last(right_payload, ignorenulls)`` over (entity, time, tag) with the
    tag ordering making the join INCLUSIVE at equal timestamps. Cost
    profile identical to a window feature: ONE shuffle on the entity key +
    ONE sort — wide payload columns never cross into Python, whole-stage
    codegen end to end. This is the 10^12-row plan of record.

``strategy='cogroup'``
    ``cogroup(...).applyInPandas`` with ``pandas.merge_asof(by=entity)``
    per coarse hash bucket. The Arrow/pandas reference implementation the
    union strategy is tested against; also the extension point for
    merge logic Spark expressions can't reach.

``strategy='bucketed'`` (skew/scale path)
    Entities with huge timelines are split into TIME BUCKETS so no single
    task holds a whole hot entity. Correctness across bucket edges is
    restored by replicating boundary rows (SURVEY.md §4 item 1):

    * backward: a left row early in bucket b may need the latest right row
      from ANY earlier bucket -> compute one summary row per non-empty
      (entity, right-bucket) = the latest right row of that bucket, then a
      range window (``rangeBetween(-inf, -1)`` over bucket id) selects, for
      every bucket, the latest summary strictly before it — the carry-in.
    * forward: mirror image (earliest right row of later buckets).
    * nearest: both carries.

    The merge then cogroups on (entity, bucket): right rows of the bucket +
    at most 2 carried rows. Bucket width is a tuning knob; carries add at
    most 2 rows per (entity, bucket).

``strategy='auto'``
    ONE sampled aggregation (default 1% of the key columns only)
    estimates the max per-entity timeline length across both sides; if
    it exceeds ``auto_hot_rows`` the bucketed strategy engages with a
    bucket width derived from the observed time span so the hot
    entity's largest (entity, bucket) task holds ~``AUTO_BUCKET_ROWS``
    rows — otherwise the union plan runs untouched. This closes the
    union strategy's one scale hazard: ``Window.partitionBy(entity)``
    puts a hot entity's ENTIRE timeline in a single task, which at
    10^12 rows serializes the stage no matter how fast the sort is.

Determinism: duplicate right rows at the same (key, time) resolve to the
row-lexicographic MAX over the value columns in every strategy — the union
strategy picks it inside its window sort (zero extra cost); cogroup and
bucketed materialize it with a groupBy max(struct) pre-pass.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

DIRECTIONS = ("backward", "forward", "nearest")

# strategy='auto' knobs: a timeline past AUTO_HOT_ROWS serializes one
# window task badly enough to re-plan; the bucketed width then targets
# AUTO_BUCKET_ROWS rows in the hot entity's largest (entity, bucket) task
AUTO_HOT_ROWS = 2_000_000
AUTO_BUCKET_ROWS = 65_536
AUTO_SAMPLE_FRAC = 0.01


def _auto_select(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    auto_hot_rows: int,
    sample_frac: float = AUTO_SAMPLE_FRAC,
    target_bucket_rows: int = AUTO_BUCKET_ROWS,
) -> tuple[str, int]:
    """Pick 'union' vs 'bucketed' from ONE sampled aggregation over the
    key+time columns only (never the payload): per-key sampled counts
    and the global time range partial-agg down to a single driver row.
    Returns (strategy, bucket_seconds). The estimate needs no precision
    — it only has to separate 'fits one task comfortably' from 'hot
    enough to time-slice', two regimes an order of magnitude apart; the
    deterministic seed keeps plans reproducible."""
    u = (
        left.select(
            F.col(on).alias("__k"),
            F.col(left_time).cast("timestamp").cast("long").alias("__t"),
        )
        .unionByName(
            right.select(
                F.col(on).alias("__k"),
                F.col(right_time).cast("timestamp").cast("long").alias("__t"),
            )
        )
        .sample(fraction=sample_frac, seed=7)
    )
    row = (
        u.groupBy("__k")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min("__t").alias("__lo"),
            F.max("__t").alias("__hi"),
        )
        .agg(
            F.max("__n").alias("m"),
            F.min("__lo").alias("lo"),
            F.max("__hi").alias("hi"),
        )
        .collect()[0]
    )
    est_hot = int((row["m"] or 0) / sample_frac)
    if est_hot <= auto_hot_rows:
        return "union", 0
    span = max(1, int((row["hi"] or 0) - (row["lo"] or 0)))
    # width so the hot entity sees ~target_bucket_rows rows per bucket
    bsec = max(1, min(span, int(span * target_bucket_rows / est_hot)))
    return "bucketed", bsec


def _dedupe_right(right: DataFrame, on: str, right_time: str) -> DataFrame:
    """One row per (key, time): keep the row-lexicographic max over the
    value columns (an actual input row) — deterministic regardless of
    partitioning, and identical to the union strategy's in-window
    tie-break so every strategy agrees on duplicate (key, time) rows."""
    value_cols = [c for c in right.columns if c not in (on, right_time)]
    if not value_cols:
        return right.dropDuplicates([on, right_time])
    agg = F.max(F.struct(*value_cols)).alias("__s")
    return right.groupBy(on, right_time).agg(agg).select(
        on, right_time, *[F.col("__s")[c].alias(c) for c in value_cols]
    )


def _output_schema(left: DataFrame, right: DataFrame, on: str, right_time: str) -> T.StructType:
    fields = list(left.schema.fields)
    for f in right.schema.fields:
        if f.name in (on, right_time):
            continue
        fields.append(T.StructField(f.name, f.dataType, nullable=True))
    return T.StructType(fields)


def _merge_fn(
    left_cols: list[str],
    right_value_cols: list[str],
    left_time: str,
    right_time: str,
    direction: str,
    tolerance: float | None,
    by: str | None = None,
    allow_exact_matches: bool = True,
):
    """Per-cogroup merge. ``by`` set => the group holds MANY entities
    (coarse hash-bucket cogrouping) and merge_asof handles the per-entity
    alignment itself — one pandas call per bucket instead of per entity,
    which is what makes the Python stage scale."""
    out_cols = left_cols + right_value_cols
    tol = pd.Timedelta(seconds=tolerance) if tolerance is not None else None

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if l.empty:
            return pd.DataFrame(columns=out_cols)
        l = l.sort_values(left_time, kind="mergesort")
        if r.empty:
            out = l.copy()
            for c in right_value_cols:
                out[c] = None
            return out[out_cols]
        rcols = ([by] if by else []) + [right_time] + right_value_cols
        r = (
            r[rcols]
            .dropna(subset=[right_time])
            .sort_values(right_time, kind="mergesort")
        )
        merged = pd.merge_asof(
            l,
            r,
            left_on=left_time,
            right_on=right_time,
            by=by,
            direction=direction,
            tolerance=tol,
            allow_exact_matches=allow_exact_matches,
        )
        return merged[out_cols]

    return merge


def _asof_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    direction: str,
    tolerance: float | None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """JVM-native as-of: union-of-tagged-sides + windowed last/first.

    Equal-timestamp semantics via tag ordering (flipped when
    ``allow_exact_matches=False`` — the STRICT mode where a feature may
    only read data strictly before its own timestamp):
    * backward inclusive: right rows sort BEFORE left rows at equal time
      (frame unboundedPreceding..current sees them); strict: after.
    * forward inclusive: right rows sort AFTER left rows at equal time
      (frame current..unboundedFollowing sees them); strict: before.
    """
    right_value_cols = [c for c in right.columns if c not in (on, right_time)]
    payload = F.struct(
        F.col(right_time).alias("__rt"), *[F.col(c) for c in right_value_cols]
    )
    r_side = right.select(
        F.col(on),
        F.col(right_time).alias("__time"),
        payload.alias("__p"),
        F.lit(True).alias("__is_r"),
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in left.schema.fields if f.name != on],
    )
    ptype = r_side.schema["__p"].dataType
    l_side = left.select(
        F.col(on),
        F.col(left_time).alias("__time"),
        F.lit(None).cast(ptype).alias("__p"),
        F.lit(False).alias("__is_r"),
        *[F.col(f.name) for f in left.schema.fields if f.name != on],
    )
    u = r_side.unionByName(l_side)

    t = F.col("__time").cast("timestamp").cast("double")
    # Pack (time, side-tag) into ONE long sort key: micros * 2 + tag.
    # Spark's sort only radix/prefix-compares the FIRST order column's
    # 8-byte prefix; with (__time, __is_r, __p) every equal-prefix pair
    # fell through to the full row comparator (timestamp ties across the
    # tagged union are the COMMON case — every left row shares a prefix
    # bucket with its right neighbors at micro granularity). The packed
    # key resolves time AND side in the prefix, so the comparator chain
    # (and the struct comparator on __p) only runs on true duplicate
    # (key, time, side) rows. Epoch micros fit 51 bits; * 2 is safe.
    #
    # The packing is only LOSSLESS when __time is already a timestamp
    # (Spark timestamps ARE micros); for numeric time columns
    # unix_micros(cast) would quantize sub-microsecond double ticks that
    # the raw-column ordering distinguishes, so those fall back to the
    # raw __time as the leading key. The side tag rides as a SECOND
    # order column in both shapes: for non-NULL packed keys it is
    # redundant (equal key => equal side), so the comparator only ever
    # consults it inside the NULL-time group — where it restores the
    # exact pre-pack (__time asc, side order) semantics.
    is_ts = isinstance(u.schema["__time"].dataType, T.TimestampType)
    ts_us = F.unix_micros(F.col("__time").cast("timestamp"))
    r_first = (~F.col("__is_r")).cast("long")  # right rows before left
    l_first = F.col("__is_r").cast("long")  # left rows before right

    def _order(tag: Column) -> list[Column]:
        lead = (ts_us * 2 + tag) if is_ts else F.col("__time")
        return [lead.asc(), tag.asc()]

    matched_cols = {}
    # Final sort key __p replaces the right-side pre-dedupe ENTIRELY for
    # this strategy: among duplicate right (key, time) rows, last() under
    # __p ASC (resp. first() under __p DESC) picks the row-lexicographic
    # max payload — the same winner _dedupe_right materializes for the
    # cogroup/bucketed strategies, but with ZERO extra shuffle.
    if direction in ("backward", "nearest"):
        tag = r_first if allow_exact_matches else l_first
        wb = (
            Window.partitionBy(on)
            .orderBy(*_order(tag), F.col("__p").asc())
            .rowsBetween(Window.unboundedPreceding, 0 if allow_exact_matches else -1)
        )
        matched_cols["__b"] = F.last("__p", ignorenulls=True).over(wb)
    if direction in ("forward", "nearest"):
        tag = l_first if allow_exact_matches else r_first
        wf = (
            Window.partitionBy(on)
            .orderBy(*_order(tag), F.col("__p").desc())
            .rowsBetween(0 if allow_exact_matches else 1, Window.unboundedFollowing)
        )
        matched_cols["__f"] = F.first("__p", ignorenulls=True).over(wf)

    u = u.select("*", *[c.alias(n) for n, c in matched_cols.items()])
    out = u.filter(~F.col("__is_r"))

    def _within_tol(p: Column, signed_delta: Column) -> Column:
        if tolerance is None:
            return p
        return F.when(signed_delta <= F.lit(float(tolerance)), p)

    rt_of = lambda p: p["__rt"].cast("timestamp").cast("double")  # noqa: E731
    if direction == "backward":
        chosen = _within_tol(F.col("__b"), t - rt_of(F.col("__b")))
    elif direction == "forward":
        chosen = _within_tol(F.col("__f"), rt_of(F.col("__f")) - t)
    else:  # nearest: prefer the closer side, ties -> backward (pandas pin)
        b = _within_tol(F.col("__b"), t - rt_of(F.col("__b")))
        f = _within_tol(F.col("__f"), rt_of(F.col("__f")) - t)
        b_d = t - rt_of(b)
        f_d = rt_of(f) - t
        chosen = (
            F.when(b.isNull(), f)
            .when(f.isNull(), b)
            .when(b_d <= f_d, b)
            .otherwise(f)
        )

    sel = [
        F.col("__time").alias(left_time) if c == left_time else F.col(c)
        for c in left.columns
    ]
    return out.select(*sel, *[chosen[c].alias(c) for c in right_value_cols])


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "doc_id",
    left_time: str = "event_time",
    right_time: str = "obs_time",
    direction: str = "backward",
    tolerance: float | None = None,
    strategy: str = "union",
    bucket_seconds: int = 86400,
    num_groups: int | None = None,
    allow_exact_matches: bool = True,
    auto_hot_rows: int = AUTO_HOT_ROWS,
) -> DataFrame:
    """As-of join ``left`` to ``right`` per entity ``on``.

    Returns left columns + right value columns (null where no match within
    direction/tolerance). ``tolerance`` is in seconds.

    ``strategy`` defaults to ``'union'`` (JVM-only, no Python); see the
    module docstring for the others.

    ``num_groups``: coarse cogroup width for ``strategy='cogroup'`` (the
    other strategies ignore it) — the entity space is hash-folded into
    this many buckets and each Arrow batch merges a whole bucket with
    ``merge_asof(by=on)``. Per-entity cogrouping
    (one pandas call per entity) would drown in per-group overhead at
    10^8 entities; bucketing amortizes it while the merge stays exactly
    per-entity. Defaults to 4x default parallelism.

    ``strategy='auto'``: one sampled key/time aggregation decides
    between 'union' and 'bucketed' (threshold ``auto_hot_rows`` on the
    estimated max per-entity timeline) and sizes ``bucket_seconds``
    from the observed span — see the module docstring. Results are
    strategy-independent (parity-pinned), so the choice affects only
    the physical plan.
    """
    if direction not in DIRECTIONS:
        raise ValueError(f"direction must be one of {DIRECTIONS}")
    if strategy not in ("auto", "union", "cogroup", "bucketed"):
        raise ValueError(
            "strategy must be 'auto', 'union', 'cogroup' or 'bucketed'"
        )
    if strategy == "auto":
        strategy, auto_bsec = _auto_select(
            left, right, on, left_time, right_time, auto_hot_rows
        )
        if strategy == "bucketed":
            bucket_seconds = auto_bsec

    if strategy == "union":
        # no pre-dedupe shuffle: duplicate (key, time) right rows are
        # resolved inside the single window sort (see _asof_union)
        return _asof_union(
            left, right, on, left_time, right_time, direction, tolerance,
            allow_exact_matches,
        )
    right = _dedupe_right(right, on, right_time)
    schema = _output_schema(left, right, on, right_time)
    right_value_cols = [c for c in right.columns if c not in (on, right_time)]

    if strategy == "cogroup":
        spark = left.sparkSession
        n_groups = num_groups or max(16, spark.sparkContext.defaultParallelism * 4)
        fn = _merge_fn(
            left.columns, right_value_cols, left_time, right_time,
            direction, tolerance, by=on, allow_exact_matches=allow_exact_matches,
        )
        gcol = lambda c: F.pmod(F.xxhash64(c), F.lit(n_groups)).cast("int")  # noqa: E731
        lg = left.withColumn("__g", gcol(F.col(on)))
        rg = right.withColumn("__g", gcol(F.col(on)))

        def fn_bucket(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
            if not l.empty:
                l = l.drop(columns=["__g"])
            if not r.empty:
                r = r.drop(columns=["__g"])
            return fn(l, r)

        return (
            lg.groupBy("__g")
            .cogroup(rg.groupBy("__g"))
            .applyInPandas(fn_bucket, schema)
        )

    fn = _merge_fn(
        left.columns, right_value_cols, left_time, right_time, direction,
        tolerance, allow_exact_matches=allow_exact_matches,
    )

    # ---- bucketed strategy -------------------------------------------------
    bsec = int(bucket_seconds)
    lb = left.withColumn(
        "__bucket",
        F.floor(F.col(left_time).cast("timestamp").cast("long") / bsec).cast("long"),
    )
    rb = right.withColumn(
        "__bucket",
        F.floor(F.col(right_time).cast("timestamp").cast("long") / bsec).cast("long"),
    )

    payload = F.struct(right_time, *right_value_cols)

    # Carry-in computation: union the per-bucket right summaries with the
    # left bucket grid, then a running last/first over the union gives each
    # left bucket the latest summary STRICTLY before it (resp. earliest
    # strictly after). Right buckets absent from the left grid still
    # propagate — the window runs over the union, not a join.
    grid = lb.select(on, "__bucket").distinct()
    carries = []
    if direction in ("backward", "nearest"):
        last_per_bucket = rb.groupBy(on, "__bucket").agg(
            F.max_by(payload, F.col(right_time)).alias("__p")
        )
        ptype = last_per_bucket.schema["__p"].dataType
        # summaries sort AFTER the grid row of the same bucket (tag 2 > 1)
        # so a same-bucket summary is excluded from the strict-past frame.
        u = last_per_bucket.select(on, "__bucket", "__p", F.lit(2).alias("__tag")).unionByName(
            grid.select(on, "__bucket", F.lit(None).cast(ptype).alias("__p"), F.lit(1).alias("__tag"))
        )
        w = (
            Window.partitionBy(on)
            .orderBy("__bucket", "__tag")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry_b = (
            u.withColumn("__carry", F.last("__p", ignorenulls=True).over(w))
            .filter((F.col("__tag") == 1) & F.col("__carry").isNotNull())
            .select(on, "__bucket", F.col("__carry").alias("__p"))
        )
        carries.append(carry_b)
    if direction in ("forward", "nearest"):
        first_per_bucket = rb.groupBy(on, "__bucket").agg(
            F.min_by(payload, F.col(right_time)).alias("__p")
        )
        ptype = first_per_bucket.schema["__p"].dataType
        # summaries sort BEFORE the grid row of the same bucket (tag 0 < 1)
        # so a same-bucket summary is excluded from the strict-future frame.
        u = first_per_bucket.select(on, "__bucket", "__p", F.lit(0).alias("__tag")).unionByName(
            grid.select(on, "__bucket", F.lit(None).cast(ptype).alias("__p"), F.lit(1).alias("__tag"))
        )
        w = (
            Window.partitionBy(on)
            .orderBy("__bucket", "__tag")
            .rowsBetween(1, Window.unboundedFollowing)
        )
        carry_f = (
            u.withColumn("__carry", F.first("__p", ignorenulls=True).over(w))
            .filter((F.col("__tag") == 1) & F.col("__carry").isNotNull())
            .select(on, "__bucket", F.col("__carry").alias("__p"))
        )
        carries.append(carry_f)

    r_parts = [rb.select(on, "__bucket", payload.alias("__p"))]
    r_parts.extend(carries)
    r_all = r_parts[0]
    for p in r_parts[1:]:
        r_all = r_all.unionByName(p)
    r_expanded = r_all.select(
        on, "__bucket", F.col("__p." + right_time).alias(right_time),
        *[F.col("__p." + c).alias(c) for c in right_value_cols],
    ).dropDuplicates([on, "__bucket", right_time])

    out_schema = T.StructType(list(schema.fields))

    def fn2(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if not l.empty:
            l = l.drop(columns=["__bucket"])
        if not r.empty:
            r = r.drop(columns=["__bucket"])
        return fn(l, r)

    return (
        lb.groupBy(on, "__bucket")
        .cogroup(r_expanded.groupBy(on, "__bucket"))
        .applyInPandas(lambda l, r: fn2(l, r), out_schema)
    )


def asof_join_multi(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str = "event_time",
    right_time: str = "obs_time",
    **kwargs,
) -> DataFrame:
    """As-of join on a COMPOSITE entity key: the key columns pack into
    one synthetic NATIVE STRUCT key (null-safe and collision-free — a
    struct is compared/hash-partitioned field-wise, never serialized),
    the single-key engine runs unchanged — same one-exchange/one-sort
    plan, now keyed by the packed column — and the original key columns
    come back in the output. The right side's copies of the key columns
    are dropped (they equal the left's by construction).

    The struct stays entirely JVM-side for the 'union' (plan of record)
    and 'bucketed' strategies, so the exchange key is the raw fields —
    no per-row JSON string materialized on 10^12 rows. Only the
    'cogroup' strategy falls back to ``to_json`` packing: its merge runs
    ``pandas.merge_asof(by=key)``, which needs a hashable SCALAR (a
    struct arrives in pandas as an unhashable dict).

    Use when the entity is e.g. (user_id, device) — pre-concatenating by
    hand is the common footgun (a raw string concat collides on
    ('a', 'bc') vs ('ab', 'c'); a struct/json key does not)."""
    if not on or len(on) < 1:
        raise ValueError("on must name at least one key column")
    if len(on) == 1:
        return asof_join(
            left, right, on[0], left_time, right_time, **kwargs
        )
    key = "__asof_key"
    if kwargs.get("strategy", "union") == "cogroup":
        pack = F.to_json(F.struct(*[F.col(c) for c in on]))
    else:
        pack = F.struct(*[F.col(c) for c in on])
    l2 = left.withColumn(key, pack)
    r2 = right.withColumn(key, pack).drop(*on)
    out = asof_join(l2, r2, key, left_time, right_time, **kwargs)
    return out.drop(key)


def asof_join_many(
    left: DataFrame,
    rights: dict[str, DataFrame],
    on: str = "doc_id",
    left_time: str = "event_time",
    right_time: str = "obs_time",
    direction: str = "backward",
    tolerances: dict[str, float] | None = None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """Point-in-time enrichment from MANY feature/label tables in ONE
    exchange + ONE sort (two sorts for ``nearest``) — the feature-store
    primitive behind the north rule's "point-in-time feature layer":
    every event picks up the as-of value from each of k right tables.

    Chaining ``asof_join`` k times costs k shuffles + k sorts, each over
    a frame that keeps widening as matched columns accumulate. This
    single-pass form tags every right table with its own payload struct,
    unions ALL sides once, and computes one ``last(__p_i, ignorenulls)``
    (resp. ``first``) per table over the SAME window sort — cost profile
    of ONE as-of join regardless of k. At 10^12 left rows the difference
    is k-1 full-data shuffles.

    Why one total sort order suffices for k tables: within an equal
    (key, time) tie group the sort is lexicographic over
    (tag, __p_0, __p_1, ...); a row carries exactly ONE non-null payload,
    so each table's rows form a contiguous block internally ordered by
    ITS payload, and ``last/first(ignorenulls)`` skips every other
    block's nulls — duplicate (key, time) rows inside each table resolve
    to the row-lexicographic max payload, identical to ``asof_join``'s
    determinism rule, with zero pre-dedup shuffle.

    ``rights`` maps a name to a right DataFrame with columns
    (``on``, ``right_time``, value columns...); each value column comes
    back as ``{name}_{col}`` (null where no match within direction /
    that table's ``tolerances[name]`` seconds).
    """
    if direction not in DIRECTIONS:
        raise ValueError(f"direction must be one of {DIRECTIONS}")
    if not rights:
        raise ValueError("rights must name at least one table")
    tolerances = tolerances or {}
    unknown = set(tolerances) - set(rights)
    if unknown:
        raise ValueError(f"tolerances for unknown tables: {sorted(unknown)}")
    names = list(rights)
    out_names: list[tuple[str, str, str]] = []  # (payload_col, value_col, out_col)
    taken = set(left.columns)
    for name in names:
        r = rights[name]
        for c in r.columns:
            if c in (on, right_time):
                continue
            out_col = f"{name}_{c}"
            if out_col in taken:
                raise ValueError(f"output column collision: {out_col}")
            taken.add(out_col)
            out_names.append((f"__p_{name}", c, out_col))

    left_fields = [f for f in left.schema.fields if f.name != on]

    def _payload(name: str) -> tuple[str, F.Column, T.DataType]:
        r = rights[name]
        vcols = [c for c in r.columns if c not in (on, right_time)]
        p = F.struct(F.col(right_time).alias("__rt"), *[F.col(c) for c in vcols])
        ptype = r.select(p.alias("x")).schema["x"].dataType
        return f"__p_{name}", p, ptype

    payload_types = {}
    sides = []
    for name in names:
        pcol, p, ptype = _payload(name)
        payload_types[pcol] = ptype
    for name in names:
        pcol_self, p_self, _ = _payload(name)
        sides.append(
            rights[name].select(
                F.col(on),
                F.col(right_time).alias("__time"),
                *[
                    (p_self if pc == pcol_self else F.lit(None).cast(pt)).alias(pc)
                    for pc, pt in payload_types.items()
                ],
                F.lit(True).alias("__is_r"),
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in left_fields],
            )
        )
    sides.append(
        left.select(
            F.col(on),
            F.col(left_time).alias("__time"),
            *[F.lit(None).cast(pt).alias(pc) for pc, pt in payload_types.items()],
            F.lit(False).alias("__is_r"),
            *[F.col(f.name) for f in left_fields],
        )
    )
    u = sides[0]
    for s in sides[1:]:
        u = u.unionByName(s)

    t = F.col("__time").cast("timestamp").cast("double")
    pcols = list(payload_types)
    matched_b: dict[str, F.Column] = {}
    matched_f: dict[str, F.Column] = {}
    if direction in ("backward", "nearest"):
        r_order = (
            F.col("__is_r").desc() if allow_exact_matches else F.col("__is_r").asc()
        )
        wb = (
            Window.partitionBy(on)
            .orderBy(
                F.col("__time").asc(), r_order, *[F.col(pc).asc() for pc in pcols]
            )
            .rowsBetween(
                Window.unboundedPreceding, 0 if allow_exact_matches else -1
            )
        )
        for pc in pcols:
            matched_b[pc] = F.last(pc, ignorenulls=True).over(wb)
    if direction in ("forward", "nearest"):
        r_order = (
            F.col("__is_r").asc() if allow_exact_matches else F.col("__is_r").desc()
        )
        wf = (
            Window.partitionBy(on)
            .orderBy(
                F.col("__time").asc(), r_order, *[F.col(pc).desc() for pc in pcols]
            )
            .rowsBetween(
                0 if allow_exact_matches else 1, Window.unboundedFollowing
            )
        )
        for pc in pcols:
            matched_f[pc] = F.first(pc, ignorenulls=True).over(wf)

    sel_matched = []
    for pc in pcols:
        if direction in ("backward", "nearest"):
            sel_matched.append(matched_b[pc].alias(f"__b_{pc}"))
        if direction in ("forward", "nearest"):
            sel_matched.append(matched_f[pc].alias(f"__f_{pc}"))
    u = u.select("*", *sel_matched)
    out = u.filter(~F.col("__is_r"))

    name_of = {f"__p_{n}": n for n in names}

    def _within_tol(name: str, p: F.Column, signed_delta: F.Column) -> F.Column:
        tol = tolerances.get(name)
        if tol is None:
            return p
        return F.when(signed_delta <= F.lit(float(tol)), p)

    rt_of = lambda p: p["__rt"].cast("timestamp").cast("double")  # noqa: E731
    chosen: dict[str, F.Column] = {}
    for pc in pcols:
        name = name_of[pc]
        if direction == "backward":
            b = F.col(f"__b_{pc}")
            chosen[pc] = _within_tol(name, b, t - rt_of(b))
        elif direction == "forward":
            f_ = F.col(f"__f_{pc}")
            chosen[pc] = _within_tol(name, f_, rt_of(f_) - t)
        else:
            b = _within_tol(name, F.col(f"__b_{pc}"), t - rt_of(F.col(f"__b_{pc}")))
            f_ = _within_tol(name, F.col(f"__f_{pc}"), rt_of(F.col(f"__f_{pc}")) - t)
            b_d = t - rt_of(b)
            f_d = rt_of(f_) - t
            chosen[pc] = (
                F.when(b.isNull(), f_)
                .when(f_.isNull(), b)
                .when(b_d <= f_d, b)
                .otherwise(f_)
            )

    sel = [
        F.col("__time").alias(left_time) if c == left_time else F.col(c)
        for c in left.columns
    ]
    return out.select(
        *sel, *[chosen[pc][vc].alias(oc) for pc, vc, oc in out_names]
    )
