"""Distributed sort-merge as-of join (backward / forward / nearest, with
tolerance) — the temporal generalization of the reference's AdjacentSibling
"nearest preceding/following match" (/root/reference/css/selector/data.go:292-299),
and the centerpiece of the north rule (BASELINE.json).

OSS Spark SQL has no as-of join. The engine has ONE kernel for it
(``_asof_window``), fully JVM-side — no payload ever crosses into
Python — and runs it in two physical plans:

``strategy='union'`` (default — the plan of record)
    Tag and union both sides, then one window pass per direction:
    ``last(right_payload, ignorenulls)`` over (entity, time, tag) with the
    tag ordering making the join INCLUSIVE at equal timestamps. Cost
    profile identical to a window feature: ONE shuffle on the entity key +
    ONE sort, whole-stage codegen end to end.

``strategy='bucketed'`` (skew/scale path: the union keyed by entity AND bucket)
    ``Window.partitionBy(entity)`` puts a hot entity's ENTIRE timeline in
    one task. The bucketed plan splits every timeline into TIME BUCKETS
    and runs the same kernel keyed by ``struct(entity, bucket)``, so no
    task holds more than one bucket. Correctness across bucket edges is
    restored by carry rows (SURVEY.md §4 item 1):

    * backward: a left row early in bucket b may need the latest right row
      from ANY earlier bucket -> take the right rows at the latest time of
      every non-empty (entity, bucket); a running window over the bucket
      grid hands each left bucket the winner among those of the nearest
      non-empty earlier bucket, relabelled with the left bucket — the
      carry-in.
    * forward: mirror image (earliest time of the nearest later bucket).
    * nearest: both carries.

    A right row with a NULL time lands in the NULL bucket, which sorts
    first, so it carries into later buckets exactly as the union plan
    reads it (as -infinity). Carries add at most 2 rows per
    (entity, bucket); bucket width is a tuning knob.

``strategy='auto'``
    ONE sampled aggregation (default 1% of the key columns only)
    estimates the max per-entity timeline length across both sides; if
    it exceeds ``auto_hot_rows`` the bucketed plan engages with a
    bucket width derived from the observed time span so the hot
    entity's largest (entity, bucket) task holds ~``AUTO_BUCKET_ROWS``
    rows — otherwise the union plan runs untouched.

Determinism: duplicate right rows at the same (key, time) resolve to the
row-lexicographic MAX over the value columns — the kernel picks it inside
its window sort (zero extra shuffle), and the bucketed carries keep the
same winner among duplicates at a bucket's edge time.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
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


def _value_cols(right: DataFrame, on: str, right_time: str) -> list[str]:
    return [c for c in right.columns if c not in (on, right_time)]


def _asof_window(
    left: DataFrame,
    rights: list[tuple[DataFrame, float | None, str]],
    on: str,
    left_time: str,
    right_time: str,
    direction: str,
    allow_exact_matches: bool,
) -> DataFrame:
    """The as-of kernel: union-of-tagged-sides + windowed last/first.

    ``rights`` holds (frame, tolerance seconds, output prefix) per right
    table; each carries its own payload struct (``__rt`` = its time, then
    its value columns) and every value column ``c`` comes back as
    ``prefix + c``, null where nothing matched within the direction and
    that table's tolerance. All tables share ONE union, exchange and sort
    per direction.

    Equal-timestamp semantics via tag ordering (flipped when
    ``allow_exact_matches=False`` — the STRICT mode where a feature may
    only read data strictly before its own timestamp):
    * backward inclusive: right rows sort BEFORE left rows at equal time
      (frame unboundedPreceding..current sees them); strict: after.
    * forward inclusive: right rows sort AFTER left rows at equal time
      (frame current..unboundedFollowing sees them); strict: before.

    The forward window runs over the exact reverse of that order (time
    DESC NULLS LAST, tag and payload flipped) with the growing frame
    unboundedPreceding..current and ``last``: the same rows, but Spark
    updates a growing frame per row instead of recomputing a shrinking
    one, so every direction stays linear in the partition.

    A NULL time sorts first (NULLS FIRST), so a NULL right time reads as
    -infinity; only the side tag orders the NULL-time group.

    Why one total sort order suffices for k tables: within an equal
    (key, time, tag) group the sort is lexicographic over
    (__p0, __p1, ...); a row carries exactly ONE non-null payload, so
    each table's rows form a contiguous block ordered by ITS payload, and
    ``last(ignorenulls)`` under payload ASC (in both directions' orders)
    picks the row-lexicographic max among duplicate (key, time) rows.
    """
    left_fields = [f for f in left.schema.fields if f.name != on]
    payloads = []  # (payload column, struct expression, struct type)
    for i, (r, _, _) in enumerate(rights):
        p = F.struct(
            F.col(right_time).alias("__rt"),
            *[F.col(c) for c in _value_cols(r, on, right_time)],
        )
        payloads.append((f"__p{i}", p, r.select(p.alias("x")).schema["x"].dataType))
    sides = [
        r.select(
            F.col(on),
            F.col(right_time).alias("__time"),
            *[
                (p if j == i else F.lit(None).cast(pt)).alias(pc)
                for j, (pc, p, pt) in enumerate(payloads)
            ],
            F.lit(True).alias("__is_r"),
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in left_fields],
        )
        for i, (r, _, _) in enumerate(rights)
    ]
    sides.append(
        left.select(
            F.col(on),
            F.col(left_time).alias("__time"),
            *[F.lit(None).cast(pt).alias(pc) for pc, _, pt in payloads],
            F.lit(False).alias("__is_r"),
            *[F.col(f.name) for f in left_fields],
        )
    )
    u = reduce(DataFrame.unionByName, sides)

    pcols = [pc for pc, _, _ in payloads]
    r_first = (~F.col("__is_r")).cast("long")  # right rows before left
    l_first = F.col("__is_r").cast("long")  # left rows before right
    matched = {}
    if direction in ("backward", "nearest"):
        tag = r_first if allow_exact_matches else l_first
        wb = (
            Window.partitionBy(on)
            .orderBy(F.col("__time").asc(), tag.asc(), *[F.col(pc).asc() for pc in pcols])
            .rowsBetween(Window.unboundedPreceding, 0 if allow_exact_matches else -1)
        )
        for pc in pcols:
            matched[f"__b{pc}"] = F.last(pc, ignorenulls=True).over(wb)
    if direction in ("forward", "nearest"):
        tag = l_first if allow_exact_matches else r_first
        wf = (
            Window.partitionBy(on)
            .orderBy(
                F.col("__time").desc_nulls_last(), tag.desc(),
                *[F.col(pc).asc() for pc in pcols],
            )
            .rowsBetween(Window.unboundedPreceding, 0 if allow_exact_matches else -1)
        )
        for pc in pcols:
            matched[f"__f{pc}"] = F.last(pc, ignorenulls=True).over(wf)
    out = u.select("*", *[c.alias(n) for n, c in matched.items()]).filter(
        ~F.col("__is_r")
    )

    t = F.col("__time").cast("timestamp").cast("double")
    rt_of = lambda p: p["__rt"].cast("timestamp").cast("double")  # noqa: E731

    def chosen(pc: str, tolerance: float | None) -> Column:
        b, f = F.col(f"__b{pc}"), F.col(f"__f{pc}")
        if tolerance is not None:  # per side, BEFORE nearest chooses
            b = F.when(t - rt_of(b) <= F.lit(float(tolerance)), b)
            f = F.when(rt_of(f) - t <= F.lit(float(tolerance)), f)
        if direction == "backward":
            return b
        if direction == "forward":
            return f
        # nearest: prefer the closer side, ties -> backward (pandas pin)
        return (
            F.when(b.isNull(), f)
            .when(f.isNull(), b)
            .when(t - rt_of(b) <= rt_of(f) - t, b)
            .otherwise(f)
        )

    sel = [
        F.col("__time").alias(left_time) if c == left_time else F.col(c)
        for c in left.columns
    ]
    for (r, tolerance, prefix), pc in zip(rights, pcols):
        p = chosen(pc, tolerance)
        sel += [p[c].alias(prefix + c) for c in _value_cols(r, on, right_time)]
    return out.select(*sel)


def _carry(
    rb: DataFrame,
    grid: DataFrame,
    on: str,
    right_time: str,
    value_cols: list[str],
    backward: bool,
) -> DataFrame:
    """For every (entity, bucket) of the left ``grid``: the right row at
    the edge time (latest for backward, earliest for forward) of the
    nearest non-empty earlier (later) bucket of ``rb``, relabelled with
    the grid bucket. Among duplicate rows at that edge time the carry
    sort keeps the row-lexicographic max — the row the kernel would
    pick from all of them. Only edge rows and grid rows reach the
    per-entity window, so it holds about two rows per bucket, hot entity
    or not."""
    p = F.struct(right_time, *value_cols)
    edge = (F.max if backward else F.min)(right_time).over(
        Window.partitionBy(on, "__bucket")
    )
    # edge rows sort after the grid row of their own bucket, so a bucket
    # never carries into itself; the NULL bucket comes first going
    # backward (last going forward) and its NULL edge time matches
    # null-safely
    edges = (
        rb.withColumn("__edge", edge)
        .filter(F.col(right_time).eqNullSafe(F.col("__edge")))
        .select(on, "__bucket", p.alias("__p"), F.lit(2).alias("__tag"))
    )
    ptype = edges.schema["__p"].dataType
    u = edges.unionByName(
        grid.select(
            on, "__bucket", F.lit(None).cast(ptype).alias("__p"), F.lit(1).alias("__tag")
        )
    )
    # forward walks the buckets in reverse so both directions use a
    # growing frame
    b = F.col("__bucket").asc() if backward else F.col("__bucket").desc_nulls_last()
    w = (
        Window.partitionBy(on)
        .orderBy(b, "__tag", F.col("__p").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = F.last("__p", ignorenulls=True).over(w)
    return (
        u.select(on, "__bucket", "__tag", carry.alias("__c"))
        .filter((F.col("__tag") == 1) & F.col("__c").isNotNull())
        .select(on, "__bucket", "__c.*")
    )


def _bucketed_sides(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    direction: str,
    bucket_seconds: int,
) -> tuple[DataFrame, DataFrame]:
    """Both sides keyed by ``__ak = struct(on, time bucket)``; the right
    side gains the carries of ``direction``. Running the kernel on
    ``__ak`` then gives the union plan's result one bucket per task."""

    def bucket(c: str) -> Column:
        return F.floor(F.col(c).cast("timestamp").cast("long") / bucket_seconds).cast("long")

    vcols = _value_cols(right, on, right_time)
    rb = right.withColumn("__bucket", bucket(right_time))
    grid = left.select(on, bucket(left_time).alias("__bucket")).distinct()
    parts = [rb]
    if direction in ("backward", "nearest"):
        parts.append(_carry(rb, grid, on, right_time, vcols, backward=True))
    if direction in ("forward", "nearest"):
        parts.append(_carry(rb, grid, on, right_time, vcols, backward=False))
    key = F.struct(F.col(on), F.col("__bucket")).alias("__ak")
    r2 = reduce(DataFrame.unionByName, parts).select(key, right_time, *vcols)
    l2 = left.withColumn("__bucket", bucket(left_time)).select(*left.columns, key)
    return l2, r2


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
    allow_exact_matches: bool = True,
    auto_hot_rows: int = AUTO_HOT_ROWS,
) -> DataFrame:
    """As-of join ``left`` to ``right`` per entity ``on``.

    Returns left columns + right value columns (null where no match within
    direction/tolerance). ``tolerance`` is in seconds. Duplicate right
    rows at one (key, time) resolve to the row-lexicographic max.

    ``strategy``: ``'union'`` (default) or ``'bucketed'`` (time buckets
    of ``bucket_seconds`` for hot entities) — see the module docstring.
    Both run the same JVM kernel and return the same rows.

    ``strategy='auto'`` RUNS ONE SPARK JOB when ``asof_join`` is called:
    a sampled key/time aggregation that decides between 'union' and
    'bucketed' (threshold ``auto_hot_rows`` on the estimated max
    per-entity timeline) and sizes ``bucket_seconds`` from the observed
    span. The returned frame itself stays lazy, and the choice affects
    only the physical plan.
    """
    if direction not in DIRECTIONS:
        raise ValueError(f"direction must be one of {DIRECTIONS}")
    if strategy not in ("auto", "union", "bucketed"):
        raise ValueError("strategy must be 'auto', 'union' or 'bucketed'")
    if strategy == "auto":
        strategy, auto_bsec = _auto_select(
            left, right, on, left_time, right_time, auto_hot_rows
        )
        if strategy == "bucketed":
            bucket_seconds = auto_bsec

    if strategy == "union":
        return _asof_window(
            left, [(right, tolerance, "")], on, left_time, right_time,
            direction, allow_exact_matches,
        )
    l2, r2 = _bucketed_sides(
        left, right, on, left_time, right_time, direction, int(bucket_seconds)
    )
    return _asof_window(
        l2, [(r2, tolerance, "")], "__ak", left_time, right_time,
        direction, allow_exact_matches,
    ).drop("__ak")


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
    are dropped (they equal the left's by construction). The struct
    stays JVM-side in every strategy, so the exchange key is the raw
    fields — no per-row string materialized.

    Use when the entity is e.g. (user_id, device) — pre-concatenating by
    hand is the common footgun (a raw string concat collides on
    ('a', 'bc') vs ('ab', 'c'); a struct key does not)."""
    if not on or len(on) < 1:
        raise ValueError("on must name at least one key column")
    if len(on) == 1:
        return asof_join(
            left, right, on[0], left_time, right_time, **kwargs
        )
    key = "__asof_key"
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
    single-pass form runs the as-of kernel once with one payload struct
    per right table over the SAME window sort — cost profile of ONE
    as-of join regardless of k. At 10^12 left rows the difference is
    k-1 full-data shuffles. Duplicate (key, time) rows inside each
    table resolve to the row-lexicographic max payload, identical to
    ``asof_join``'s determinism rule, with zero pre-dedup shuffle.

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
    taken = set(left.columns)
    for name, r in rights.items():
        for c in _value_cols(r, on, right_time):
            out_col = f"{name}_{c}"
            if out_col in taken:
                raise ValueError(f"output column collision: {out_col}")
            taken.add(out_col)
    return _asof_window(
        left,
        [(r, tolerances.get(name), f"{name}_") for name, r in rights.items()],
        on, left_time, right_time, direction, allow_exact_matches,
    )
