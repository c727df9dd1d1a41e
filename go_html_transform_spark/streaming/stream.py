"""Structured Streaming surface: the engine's batch feature semantics
re-expressed over an unbounded source.

The reference is strictly batch-one-document (SURVEY.md §2.14); the
streaming layer is engine-added so the same rules/features run on live
event streams:

* ``stream_sequences``: file-source stream of event rows joined to the
  broadcast document dim — the streaming twin of sources.tables.sequences.
* ``streaming_session_counts``: watermarked session-window aggregation —
  the streaming twin of operators/window.sessionize (same gap semantics
  via ``F.session_window``).
* ``streaming_rule_counts``: selector-rule match counts per sliding
  window — Transformer rules applied to a stream unchanged (stateless
  Column expressions compose with any source).
* per-entity GroupState operators (running features, stateful as-of,
  decayed counts, EWMA): each is one pandas ``step`` run by the shared
  driver ``_per_entity_state``; both stateful as-of wrappers run the one
  k-table state machine ``_asof_stateful``.

Tests drive these with ``trigger(availableNow=True)`` into a memory sink —
the bounded-replay mode that exercises the full incremental planner.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_html_transform_spark.sources.tables import documents_tokenized


def _events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """readStream over ``{sf_dir}/events.parquet`` with the static
    schema. The file-stream source requires a DIRECTORY: a single file
    is mirrored into a temp dir via symlink (testdata is read-only).
    Production streams read a landing directory anyway."""
    src = f"{sf_dir}/events.parquet"
    static_events = spark.read.parquet(src)
    if os.path.isfile(src):
        d = tempfile.mkdtemp(prefix="ghts_stream_")
        os.symlink(os.path.abspath(src), os.path.join(d, "events.parquet"))
        src = d
    return (
        spark.readStream.schema(static_events.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src)
    )


def stream_sequences(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """readStream over the events parquet directory joined to the static
    tokenized-documents dim (stream-static joins are broadcast-friendly
    and stateless)."""
    e = _events_stream(spark, sf_dir, max_files_per_trigger)
    d = documents_tokenized(spark, sf_dir)
    return (
        e.join(F.broadcast(d), e["user_id"] == d["doc_key"], "inner")
        .select(
            d["doc_id"],
            e["ts"].alias("event_time"),
            d["tokens"],
            d["n_tok"],
            d["source"],
            e["event_id"],
            e["event_type"],
            e["value"],
        )
    )


def stream_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream twin of ``sources.tables.labels``: purchase events as
    (doc_id, obs_time, label_value) — the as-of right side, now as a
    label STREAM for the stateful streaming enrichment operators."""
    from go_html_transform_spark.sources.tables import _doc_id_expr

    e = _events_stream(spark, sf_dir, 1)
    return e.filter(F.col("event_type") == "purchase").select(
        _doc_id_expr(F.col("user_id")).alias("doc_id"),
        F.col("ts").alias("obs_time"),
        F.col("value").alias("label_value"),
    )


def streaming_session_counts(
    seq_stream: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessionization on the stream via F.session_window; the
    watermark bounds state for late data.

    Boundary semantics: session_window is half-open [t, t+gap), so an event
    at EXACTLY last+gap starts a new session (gap >= gap_seconds), whereas
    batch sessionize() pins strict > (gap > gap_seconds). The two agree on
    every gap except an exact-boundary hit — probability ~0 on µs-precision
    timestamps. The DuckDB oracle for this query pins the >= form."""
    return (
        seq_stream.withColumn("event_time", F.col("event_time").cast("timestamp"))
        .withWatermark("event_time", watermark)
        .groupBy(
            F.session_window("event_time", f"{gap_seconds} seconds"),
            F.col("doc_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("n_tok").alias("sum_n_tok"),
        )
        .select(
            "doc_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_n_tok",
        )
    )


def streaming_rule_counts(
    seq_stream: DataFrame,
    rule: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Selector-rule match counts per tumbling window: the rule compiles to
    the same stateless Column predicate used in batch, so the streaming
    planner gets an ordinary windowed aggregation."""
    from go_html_transform_spark.plans.parser import parse_rule
    from go_html_transform_spark.plans.rules import compile_chain

    compiled = compile_chain(parse_rule(rule), attrs=None)
    return (
        seq_stream.withColumn("event_time", F.col("event_time").cast("timestamp"))
        .withWatermark("event_time", watermark)
        .filter(compiled.row_matched)
        .groupBy(F.window("event_time", window), F.col("source"))
        .agg(F.count("*").alias("n_matches"))
        .select(
            F.col("window.start").alias("window_start"),
            "source",
            "n_matches",
        )
    )


def _group_fn(step, idle_timeout_minutes: int | None):
    """The per-group function of :func:`_per_entity_state`: the whole
    GroupState protocol around one pandas ``step``.

    A timed-out group is evicted with no output. Otherwise the group's
    frames are concatenated and, unless the batch is empty,
    ``step(entity, batch, prior_state)`` runs with ``prior_state`` the
    carried tuple (``None`` for a new entity) and returns
    ``(out_frame | None, new_state | None)``; a non-None state replaces
    the stored one. The idle timeout is re-armed on every live call."""
    import pandas as pd

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            out, new_state = step(key[0], batch, state.get if state.exists else None)
            if new_state is not None:
                state.update(new_state)
            if out is not None:
                yield out
        if idle_timeout_minutes is not None:
            state.setTimeoutDuration(idle_timeout_minutes * 60_000)

    return fn


def _per_entity_state(
    stream: DataFrame,
    key_col: str,
    out_schema: str,
    state_schema: str,
    step,
    idle_timeout_minutes: int | None,
) -> DataFrame:
    """One stateful operator per entity of ``key_col``: every GroupState
    operator of this module is this call with its own pandas ``step``
    (see :func:`_group_fn`). ``idle_timeout_minutes`` arms a
    processing-time timeout that evicts an entity's state after that
    long without input; ``None`` keeps state until the query ends. With
    the timeout, Spark runs a batch on every trigger to look for idle
    groups, so run such a query on a processing-time trigger: an
    availableNow drain of it never ends."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy(key_col).applyInPandasWithState(
        _group_fn(step, idle_timeout_minutes),
        out_schema,
        state_schema,
        "append",
        timeout,
    )


def streaming_stateful_features(
    seq_stream: DataFrame,
    gap_seconds: int = 1800,
    idle_timeout_minutes: int | None = None,
) -> DataFrame:
    """Custom stateful operator (pandas GroupState): per-entity RUNNING
    features carried across micro-batches — the stateful streaming twin
    of the batch window bundle (operators/window.py:add_features):

    * ``session_id`` — gap-based sessionization continued across batches
      (identical semantics to batch sessionize: new session when the gap
      from the previous event exceeds ``gap_seconds``)
    * ``cum_events`` / ``cum_n_tok`` — lifetime running count/sum
    * ``gap_prev_s`` — seconds since the entity's previous event

    State per entity is 4 scalars (last_us, session_id, cum_events,
    cum_n_tok) — bounded, and evictable via an optional processing-time
    timeout (``idle_timeout_minutes``) so the 10^8-entity stream doesn't
    grow state without bound. Within a batch the group is processed as a
    numpy-vectorized block (no per-row Python). Ordering contract:
    per-entity in-order arrival (the norm for key-partitioned logs);
    within a batch rows are sorted by (event_time, event_id).
    """
    import numpy as np
    import pandas as pd

    out_schema = (
        "doc_id string, event_id long, event_time timestamp, n_tok int, "
        "session_id int, cum_events long, cum_n_tok long, gap_prev_s double"
    )
    state_schema = "last_us long, session_id int, cum_events long, cum_n_tok long"

    def step(doc_id, batch, prior):
        last_us, session_id, cum_events, cum_n_tok = (
            prior if prior is not None else (None, -1, 0, 0)
        )
        batch = batch.sort_values(
            ["event_time", "event_id"], kind="mergesort", ignore_index=True
        )
        ts_us = batch["event_time"].astype("int64").to_numpy() // 1_000
        prev_us = np.roll(ts_us, 1).astype("float64")
        prev_us[0] = float(last_us) if last_us is not None else np.nan
        gap_s = (ts_us - prev_us) / 1e6
        is_new = np.isnan(gap_s) | (gap_s > gap_seconds)
        sessions = session_id + np.cumsum(is_new)
        n_tok = batch["n_tok"].to_numpy()
        out = pd.DataFrame(
            {
                "doc_id": doc_id,
                "event_id": batch["event_id"],
                "event_time": batch["event_time"],
                "n_tok": batch["n_tok"],
                "session_id": sessions.astype("int32"),
                "cum_events": cum_events + np.arange(1, len(batch) + 1),
                "cum_n_tok": cum_n_tok + np.cumsum(n_tok.astype("int64")),
                "gap_prev_s": gap_s,
            }
        )
        return out, (
            int(ts_us[-1]),
            int(sessions[-1]),
            int(cum_events + len(batch)),
            int(cum_n_tok + int(n_tok.sum())),
        )

    return _per_entity_state(
        seq_stream.withColumn("event_time", F.col("event_time").cast("timestamp"))
        .select("doc_id", "event_id", "event_time", "n_tok"),
        "doc_id",
        out_schema,
        state_schema,
        step,
        idle_timeout_minutes,
    )


def streaming_asof_enrich(
    seq_stream: DataFrame,
    labels: DataFrame,
    key_col: str = "doc_id",
    time_col: str = "event_time",
    label_time_col: str = "obs_time",
    label_value_col: str = "label_value",
) -> DataFrame:
    """Stateless streaming as-of (backward, inclusive): every stream row
    gets the latest label at-or-before its own timestamp — the streaming
    twin of operators/asof.asof_join(direction='backward').

    The static side collapses to ONE row per entity holding its full
    sorted (t, value) timeline; the stream side is then a stream-static
    broadcast join (no shuffle of the stream, no streaming state) and the
    as-of pick is `try_element_at(filter(timeline, t <= ev), -1)` — the
    last qualifying element of an ordered array. Right-side duplicates at
    the same t resolve to max(value), matching the batch engine's dedup.

    Scale contract: per-entity timelines must be broadcastable (dim
    bounded); for unbounded/hot label streams use the stateful path
    (streaming_stateful_features' GroupState) instead. The filter lambda
    captures only the MATERIALIZED __ev_us column — capturing a computed
    expression instead would re-evaluate it once per array element
    (interpreted CodegenFallback, the round-1 HOF pitfall)."""
    dim = labels.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.unix_micros(F.col(label_time_col).cast("timestamp")).alias("t"),
                    F.col(label_value_col).alias("v"),
                )
            )
        ).alias("__tl")
    )
    s = seq_stream.withColumn(
        "__ev_us", F.unix_micros(F.col(time_col).cast("timestamp"))
    )
    best = F.try_element_at(
        F.filter(F.col("__tl"), lambda x: x["t"] <= F.col("__ev_us")), F.lit(-1)
    )
    return (
        s.join(F.broadcast(dim), key_col, "left")
        .withColumn(label_value_col, best["v"])
        .drop("__tl", "__ev_us")
    )


def _asof_stateful(
    seq_stream: DataFrame,
    label_streams: list[DataFrame],
    out_cols: list[str],
    key_col: str,
    time_col: str,
    label_time_col: str,
    label_value_col: str,
    idle_timeout_minutes: int | None,
) -> DataFrame:
    """The stateful as-of state machine behind both public wrappers:
    label stream ``i`` fills output column ``out_cols[i]``, with state
    ``(t0, v0, ..., t{k-1}, v{k-1})`` per entity — the latest label row
    of each table seen so far.

    Events and labels join one tagged union (``__tag`` 1 / 0, ``__src``
    the table). Within a batch, each table's carried state joins as a
    virtual label row, and the rows sort by ``(__t, __tag, __v,
    event_id)`` with NULLs first: labels before events at equal t
    (inclusive), the max value last among same-(entity, t) duplicates,
    a NULL value smallest — the batch as-of kernel's tie-break, applied
    uniformly to in-batch labels and to a label replayed at the carried
    t. Each table then fills by POSITION (the latest label row of that
    table, whatever its value), so a NULL-valued label yields NULL until
    the next label, as in the batch as-of; a value-ffill would carry the
    older label past it. One total order serves all k tables, because
    each fill reads only its own table's rows."""
    import numpy as np
    import pandas as pd

    events = seq_stream.select(
        F.col(key_col),
        F.col("event_id").cast("long").alias("event_id"),
        F.col(time_col).cast("timestamp").alias("__ts"),
        F.unix_micros(F.col(time_col).cast("timestamp")).alias("__t"),
        F.lit(1).alias("__tag"),
        F.lit(-1).alias("__src"),
        F.lit(None).cast("double").alias("__v"),
    )
    unioned = events
    for i, labels in enumerate(label_streams):
        unioned = unioned.unionByName(
            labels.select(
                F.col(key_col),
                F.lit(None).cast("long").alias("event_id"),
                F.col(label_time_col).cast("timestamp").alias("__ts"),
                F.unix_micros(F.col(label_time_col).cast("timestamp")).alias(
                    "__t"
                ),
                F.lit(0).alias("__tag"),
                F.lit(i).alias("__src"),
                F.col(label_value_col).cast("double").alias("__v"),
            )
        )
    out_schema = (
        f"{key_col} string, event_id long, {time_col} timestamp, "
        + ", ".join(f"{c} double" for c in out_cols)
    )
    k = len(out_cols)
    state_schema = ", ".join(f"t{i} long, v{i} double" for i in range(k))

    def step(ent, batch, prior):
        st = list(prior) if prior is not None else [None] * (2 * k)
        virts = [
            {
                key_col: ent,
                "event_id": None,
                "__ts": pd.NaT,
                "__t": int(st[2 * i]),
                "__tag": 0,
                "__src": i,
                "__v": float(st[2 * i + 1]),
            }
            for i in range(k)
            if st[2 * i] is not None
        ]
        if virts:
            batch = pd.concat(
                [pd.DataFrame(virts, columns=batch.columns), batch],
                ignore_index=True,
            )
        batch = batch.sort_values(["__t", "__tag", "__v", "event_id"],
                                  kind="mergesort", ignore_index=True,
                                  na_position="first")
        ev = (batch["__tag"] == 1).to_numpy()
        src = batch["__src"].to_numpy()  # -1 on events
        t_arr = batch["__t"].to_numpy()
        v_arr = batch["__v"].to_numpy()
        pos = np.arange(len(batch))
        out = {
            key_col: ent,
            "event_id": batch["event_id"][ev],
            time_col: batch["__ts"][ev],
        }
        for i, c in enumerate(out_cols):
            last_i = np.maximum.accumulate(np.where(src == i, pos, -1))
            out[c] = np.where(
                last_i >= 0, v_arr[np.clip(last_i, 0, None)], np.nan
            )[ev]
            if last_i[-1] >= 0:
                st[2 * i] = int(t_arr[last_i[-1]])
                st[2 * i + 1] = float(v_arr[last_i[-1]])
        return (
            pd.DataFrame(out) if ev.any() else None,
            tuple(st) if any(x is not None for x in st) else None,
        )

    return _per_entity_state(
        unioned, key_col, out_schema, state_schema, step, idle_timeout_minutes
    )


def streaming_asof_enrich_stateful(
    seq_stream: DataFrame,
    label_stream: DataFrame,
    key_col: str = "doc_id",
    time_col: str = "event_time",
    label_time_col: str = "obs_time",
    label_value_col: str = "label_value",
    idle_timeout_minutes: int | None = None,
) -> DataFrame:
    """State-store as-of enrich — the fallback for when the label side
    outgrows :func:`streaming_asof_enrich`'s broadcast ceiling. Both
    sides arrive as STREAMS (a static label table is a bounded stream:
    ``spark.readStream.parquet(...)`` + availableNow) tagged and
    unioned, grouped by entity, with a GroupState carrying the as-of
    state across micro-batches.

    The key insight that keeps state CONSTANT (2 scalars per entity, not
    a timeline): under the per-entity in-order arrival contract (the
    streaming_decayed_counts discipline), a backward-inclusive as-of
    only ever needs the LATEST label seen so far. Duplicate labels at
    the same (entity, t) resolve to max(value) — the batch as-of
    kernel's tie-break — inside a batch and across batches; the
    mechanics are :func:`_asof_stateful`'s, shared with
    :func:`streaming_asof_enrich_many_stateful` (this is its k = 1 case,
    with ``label_value_col`` as the output name).

    Events with no label yet emit NULL, matching the batch left join.
    Scale shape: ONE shuffle of the unioned stream on the entity key;
    state-store size = 2 scalars x live entities, evictable via the
    processing-time timeout."""
    return _asof_stateful(
        seq_stream,
        [label_stream],
        [label_value_col],
        key_col,
        time_col,
        label_time_col,
        label_value_col,
        idle_timeout_minutes,
    )


def streaming_asof_enrich_many_stateful(
    seq_stream: DataFrame,
    label_streams: dict[str, DataFrame],
    key_col: str = "doc_id",
    time_col: str = "event_time",
    label_time_col: str = "obs_time",
    label_value_col: str = "label_value",
    idle_timeout_minutes: int | None = None,
) -> DataFrame:
    """The streaming twin of ``operators.asof.asof_join_many``: enrich an
    event stream point-in-time from k label STREAMS in one stateful
    operator — ONE shuffle of the tagged union on the entity key, state =
    2k scalars (last_label_t_i, last_label_v_i) per live entity, one
    output column ``{name}_{label_value_col}`` per table.

    Same contracts as :func:`streaming_asof_enrich_stateful` (per-entity
    in-order arrival across micro-batches; backward-inclusive; duplicate
    same-(entity, t) labels resolve to max value, matching the batch
    engine's tie-break), applied independently per table by the one
    state machine, :func:`_asof_stateful`.

    All label streams must expose (``key_col``, ``label_time_col``,
    ``label_value_col``) with a double value column.
    """
    if not label_streams:
        raise ValueError("label_streams must name at least one stream")
    return _asof_stateful(
        seq_stream,
        list(label_streams.values()),
        [f"{n}_{label_value_col}" for n in label_streams],
        key_col,
        time_col,
        label_time_col,
        label_value_col,
        idle_timeout_minutes,
    )


def streaming_dedup(
    seq_stream: DataFrame,
    key_cols: tuple[str, ...] = ("doc_id", "event_id"),
    time_col: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup — the unbounded twin of
    operators/dedup.exact_dedup: ``dropDuplicatesWithinWatermark`` keeps
    the FIRST arrival of each key and suppresses re-deliveries that land
    within the watermark horizon of it. State per key is dropped once the
    event-time watermark passes it, so state size is bounded by
    (arrival rate x horizon) instead of the full key history — the only
    dedup contract that survives an unbounded 100 TB/day stream. Exactly-
    once keys across the WHOLE stream additionally need an idempotent
    sink key (sinks.write_sequences' Iceberg MERGE path); this operator
    guarantees it inside the horizon."""
    s = seq_stream.withColumn(time_col, F.col(time_col).cast("timestamp"))
    return s.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def streaming_token_stats(
    seq_stream: DataFrame,
    depth: int | None = None,
    width: int | None = None,
) -> DataFrame:
    """Incremental count-min sketch of token occurrences over the stream
    — the state-CONSTANT streaming corpus statistic.

    A streaming per-token frequency table holds |vocab| state rows and a
    per-bigram table |vocab|^2 — both unbounded for open vocabularies.
    The CMS keeps exactly depth x width counter rows regardless of
    vocabulary or stream length (the aggregation state IS the sketch),
    and the result merges cell-wise with any batch sketch built by
    operators/sketches.count_min_sketch over historical data — the
    classic lambda-architecture union without re-reading the history.

    Stateless explode (tokens -> depth cells) feeds a plain streaming
    groupBy; complete-mode output emits the whole (tiny) sketch each
    trigger. Batch parity: draining this with availableNow equals the
    batch count_min_sketch on the same rows
    (tests/test_multimodal_streaming.py)."""
    from go_html_transform_spark.operators import sketches as SK

    depth = SK.CMS_DEPTH if depth is None else depth
    width = SK.CMS_WIDTH if width is None else width
    nonnull = F.filter(F.col("tokens"), lambda t: t.isNotNull())
    return (
        seq_stream.select(F.explode(nonnull).alias("t"))
        .select(F.explode(SK.cms_cells(F.col("t"), depth, width)).alias("rc"))
        .select("rc.r", "rc.cell")
        .groupBy("r", "cell")
        .agg(F.count("*").alias("cnt"))
    )


def streaming_interval_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    key_col: str = "doc_id",
    left_time: str = "event_time",
    right_time: str = "obs_time",
    lower_seconds: int = 0,
    upper_seconds: int = 3600,
    left_watermark: str = "2 hours",
    right_watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM time-bounded join: pair each left event with every
    right event of the same key landing inside
    ``[left_time + lower, left_time + upper)`` — the unbounded twin of
    operators/rangejoin.range_join (batch oracle:
    range_join_click_windows†), and the canonical Structured Streaming
    stateful join.

    Both sides carry watermarks and the join condition carries an
    explicit event-time range, which is exactly what lets Spark bound
    the join state: left rows are evicted once the right watermark
    passes ``left_time + upper``, right rows once the left watermark
    passes ``right_time - lower`` — state is (arrival rate x horizon),
    independent of total stream length. Without the range condition the
    state would grow forever; this operator makes it impossible to omit.

    Interval arithmetic is µs-exact (timestamp + INTERVAL SECOND), the
    same half-open [start, end) contract as the batch range join, so an
    availableNow drain equals the batch inequality join row-for-row
    (tests/test_multimodal_streaming.py).

    Scale notes: the stream-stream join shuffles both sides by key —
    a hot key concentrates state on one task. AQE cannot re-plan a
    running stream, so for viral keys pre-compose the key with a coarse
    time bucket on BOTH sides (the range_join bucketization pattern)
    before calling this; watermark slack directly multiplies state size,
    so keep it at the real late-data bound."""
    l = left_stream.withColumn(
        left_time, F.col(left_time).cast("timestamp")
    ).withWatermark(left_time, left_watermark)
    r = right_stream.withColumn(
        right_time, F.col(right_time).cast("timestamp")
    ).withWatermark(right_time, right_watermark)
    cond = (
        (l[key_col] == r[key_col])
        & (
            r[right_time]
            >= l[left_time] + F.expr(f"INTERVAL {lower_seconds} SECOND")
        )
        & (
            r[right_time]
            < l[left_time] + F.expr(f"INTERVAL {upper_seconds} SECOND")
        )
    )
    return l.join(r, cond, "inner").drop(r[key_col])


def _has_streaming_aggregate(jplan) -> bool:
    """True iff the analyzed logical plan contains an Aggregate node on
    a streaming subtree (static aggregates under stream-static joins
    don't count — they run append fine)."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Aggregate" and node.isStreaming():
            return True
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return False


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str | None = None
) -> DataFrame:
    """Drain the stream with availableNow into a memory sink; returns the
    materialized result (test/driver helper). ``output_mode`` overrides
    the default, which probes the plan: unwatermarked streaming
    aggregations require complete mode, everything else (stateless ops,
    the GroupState operators, dropDuplicatesWithinWatermark) runs append.
    (The old default keyed on ``isStreaming`` — true for EVERY streaming
    frame — so non-agg streams crashed unless the caller passed
    append explicitly.)"""
    if output_mode is None:
        # walk the analyzed plan for a STREAMING Aggregate node — a
        # substring test on the stringified plan also matches static
        # subtrees of stream-static joins (or any name containing
        # "Aggregate"), forcing complete mode Spark then rejects
        output_mode = (
            "complete"
            if _has_streaming_aggregate(stream_df._jdf.queryExecution().analyzed())
            else "append"
        )
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def streaming_decayed_counts(
    seq_stream: DataFrame,
    bucket_seconds: int = 1800,
    horizon: int = 4,
    time_col: str = "event_time",
    partition_by: str = "doc_id",
    idle_timeout_minutes: int | None = None,
) -> DataFrame:
    """Streaming twin of the batch decayed counter
    (operators/window.py:decayed_bucket_counts): per-entity power-of-two
    time-decayed event count over STRICTLY-PRIOR buckets, carried across
    micro-batches in GroupState.

    State per entity is ``horizon + 2`` scalars — the newest bucket id
    and the counts of the last ``horizon + 1`` buckets (an event in the
    SAME bucket continuing into the next micro-batch still needs the
    count at ``top - horizon``, so the newest bucket's window reaches one
    bucket further back than the newest bucket itself) — CONSTANT regardless
    of stream length (the streaming-CMS state discipline), and evictable
    via an optional processing-time timeout.

    Correctness argument (pinned by the cross-batch parity test): with
    per-entity in-order arrival, bucket ids are non-decreasing, so every
    event of a strictly-earlier bucket is processed before any row that
    must count it; the state never needs more than the trailing
    ``horizon`` buckets. Within a batch, rows are sorted and buckets are
    folded cumulatively (same-bucket events never feed their own
    feature — the batch operator's leak-free contract).
    """
    import numpy as np
    import pandas as pd

    width = bucket_seconds * 1_000_000
    out_schema = (
        f"{partition_by} string, event_id long, {time_col} timestamp, "
        f"decayed_{bucket_seconds}s_fp long"
    )
    state_schema = "top_bucket long, " + ", ".join(
        f"c{i} long" for i in range(horizon + 1)
    )

    def step(ent, batch, prior):
        if prior is not None:
            top, carried = prior[0], list(prior[1:])
            counts: dict[int, int] = {
                top - i: carried[i] for i in range(horizon + 1) if carried[i]
            }
        else:
            top, counts = None, {}
        batch = batch.sort_values(
            [time_col, "event_id"], kind="mergesort", ignore_index=True
        )
        us = batch[time_col].astype("int64").to_numpy() // 1_000
        buckets = us // width
        feat = np.zeros(len(batch), dtype=np.int64)
        for b in np.unique(buckets):  # sorted; O(buckets/batch) python
            mask = buckets == b
            f = 0
            for d in range(1, horizon + 1):
                f += counts.get(int(b) - d, 0) << (horizon - d)
            feat[mask] = f
            counts[int(b)] = counts.get(int(b), 0) + int(mask.sum())
        new_top = int(buckets[-1]) if top is None else max(top, int(buckets[-1]))
        out = pd.DataFrame(
            {
                partition_by: ent,
                "event_id": batch["event_id"],
                time_col: batch[time_col],
                f"decayed_{bucket_seconds}s_fp": feat,
            }
        )
        return out, tuple(
            [new_top] + [int(counts.get(new_top - i, 0)) for i in range(horizon + 1)]
        )

    return _per_entity_state(
        seq_stream.withColumn(time_col, F.col(time_col).cast("timestamp"))
        .select(partition_by, "event_id", time_col),
        partition_by,
        out_schema,
        state_schema,
        step,
        idle_timeout_minutes,
    )


def streaming_ewma(
    seq_stream: DataFrame,
    value_col: str = "n_tok",
    alpha: float = 0.5,
    time_col: str = "event_time",
    partition_by: str = "doc_id",
    idle_timeout_minutes: int | None = None,
) -> DataFrame:
    """Streaming twin of the batch Arrow EWMA (operators/window.py:ewma,
    pandas ``adjust=True`` semantics): per-entity exponentially-weighted
    mean of all STRICTLY-PRIOR values, continued exactly across
    micro-batches.

    The adjust=True mean is s/w with the linear recursions
    ``s = q*s + x`` and ``w = q*w + 1`` (q = 1-alpha; NaN observations
    advance the decay but add nothing — pandas ``ignore_na=False``), so
    the GroupState is just TWO floats per entity. Within a batch the
    recursion vectorizes via q^i-rescaled cumulative sums processed in
    adaptively-sized chunks (chunk length capped so q^-K stays inside
    float range) — no per-row Python.

    Leak-free: row i's output is the state BEFORE x_i (entity-first row
    NULL), matching the batch op's shift-by-one."""
    import math

    import numpy as np
    import pandas as pd

    q = 1.0 - alpha
    if not (0.0 < q < 1.0):
        raise ValueError("alpha must be in (0, 1)")
    # largest chunk with q^-K (and q^K) comfortably inside float64
    K = max(1, min(4096, int(-280.0 / math.log10(q))))
    out_schema = (
        f"{partition_by} string, event_id long, {time_col} timestamp, "
        f"{value_col}_ewma double"
    )
    state_schema = "s double, w double"

    def step(ent, batch, prior):
        s, w = (float(x) for x in prior) if prior is not None else (0.0, 0.0)
        batch = batch.sort_values(
            [time_col, "event_id"], kind="mergesort", ignore_index=True
        )
        x = batch[value_col].astype("float64").to_numpy()
        ok = ~np.isnan(x)
        xz = np.where(ok, x, 0.0)
        one = ok.astype("float64")
        prior_mean = np.empty(len(batch), dtype="float64")
        for lo in range(0, len(batch), K):
            xs, os_ = xz[lo : lo + K], one[lo : lo + K]
            L = len(xs)
            qi = q ** np.arange(1, L + 1)  # q^i
            qinv = 1.0 / qi  # q^-i
            cs = np.cumsum(xs * qinv)
            cw = np.cumsum(os_ * qinv)
            s_arr = qi * (s + cs)  # state AFTER row i
            w_arr = qi * (w + cw)
            # output BEFORE row i: shift by one, seed with carry-in
            prev_s = np.concatenate(([s], s_arr[:-1]))
            prev_w = np.concatenate(([w], w_arr[:-1]))
            with np.errstate(invalid="ignore", divide="ignore"):
                prior_mean[lo : lo + L] = np.where(
                    prev_w > 0, prev_s / prev_w, np.nan
                )
            s, w = float(s_arr[-1]), float(w_arr[-1])
        out = pd.DataFrame(
            {
                partition_by: ent,
                "event_id": batch["event_id"],
                time_col: batch[time_col],
                f"{value_col}_ewma": prior_mean,
            }
        )
        return out, (s, w)

    return _per_entity_state(
        seq_stream.withColumn(time_col, F.col(time_col).cast("timestamp"))
        .select(partition_by, "event_id", time_col, value_col),
        partition_by,
        out_schema,
        state_schema,
        step,
        idle_timeout_minutes,
    )


def streaming_decontaminate(
    doc_stream: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n: int = 13,
    bloom_m_bits: int | None = None,
    bloom_k: int = 3,
) -> DataFrame:
    """Streaming twin of decontaminate.contaminated_hits: one row per
    (streamed document, matched distinct eval n-gram), append-mode and
    STATELESS — contamination is a per-row property, so no watermark, no
    state store, and results stream out the same micro-batch they
    arrive.

    Plan shape mirrors the batch op: row-local n-gram hashes +
    array_distinct, narrow explode, then a stream-static broadcast LEFT
    SEMI join against the eval hash set. With ``bloom_m_bits`` set, the
    folded bloom words of the eval set are collected driver-side
    (m_bits/32 int64s — literal-inlined like an IVF codebook) and the
    row-local probe drops non-candidates BEFORE the semi-join; the exact
    join then only sees matches + FPR, and the output is unchanged
    (bloom never misses a member). Per-doc counts are the consumer's
    streaming aggregation (or batch contamination_counts at rest)."""
    from go_html_transform_spark.operators import bloom as BL
    from go_html_transform_spark.operators import decontaminate as DC

    ngrams = doc_stream.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(DC.ngram_hashes(F.col(tokens_col), n))
        ).alias("__ng"),
    )
    if bloom_m_bits is not None:
        ev_hashes = DC.eval_ngram_set(eval_df, tokens_col, n)
        row = BL.bloom_fold(
            BL.bloom_build(ev_hashes.withColumnRenamed("__ng", "h"), "h",
                           bloom_m_bits, bloom_k),
            bloom_m_bits,
        ).collect()[0]
        words = F.array(*[F.lit(int(w)) for w in row.bloom_words])
        ngrams = ngrams.filter(
            BL.bloom_contains(words, F.col("__ng"), bloom_m_bits, bloom_k)
        )
    return ngrams.join(
        F.broadcast(DC.eval_ngram_set(eval_df, tokens_col, n, distinct=False)),
        "__ng",
        "left_semi",
    )


def streaming_bloom_build(
    key_stream: DataFrame,
    key_col: str = "h",
    m_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Incremental bloom-filter construction over a stream of keys — the
    state-CONSTANT streaming set sketch (same contract as
    streaming_token_stats' CMS: the aggregation state IS the sketch,
    bounded at m_bits/32 word rows regardless of stream length).
    Complete-mode output emits the whole (tiny) words table each
    trigger; bit_or is idempotent, so replayed keys never corrupt the
    sketch, and the result merges word-wise (bit_or again) with any
    batch bloom built by operators/bloom.bloom_build over historical
    data — the lambda-architecture union without re-reading history.
    Drained with availableNow it equals the batch build exactly
    (tests/test_multimodal_streaming.py)."""
    from go_html_transform_spark.operators import bloom as BL

    pos = F.explode(
        F.array(*BL._positions(F.col(key_col), m_bits, k))
    ).alias("pos")
    return (
        key_stream.select(pos)
        .select(
            F.expr("pos div 32").cast("int").alias("word_idx"),
            F.element_at(
                BL._bit_masks(), (F.col("pos") % 32).cast("int") + 1
            ).alias("__m"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__m").alias("word"))
    )
