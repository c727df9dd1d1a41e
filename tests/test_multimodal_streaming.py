"""Multimodal plumbing (stubbed codec) + Structured Streaming parity tests."""

import pytest
from pyspark.sql import functions as F

from go_html_transform_spark.operators import multimodal as MM
from go_html_transform_spark.streaming import stream as ST

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        ("m0", "image", b"\x89PNG fake bytes 0", (64, 48, None, None)),
        ("m1", "image", b"\x89PNG fake bytes 1", (32, 32, None, None)),
        ("m2", "image", b"\x89PNG fake bytes 0", (64, 48, None, None)),  # dup payload
        ("m3", "audio", b"RIFF fake wav", (None, None, 16000, None)),
        ("m4", "video", b"ftyp fake mp4", (640, 480, None, 95)),
    ]
    return spark.createDataFrame(rows, MM.MEDIA_SCHEMA)


def test_decode_requires_real_codec_or_fake(media):
    # formats outside the dependency-free real tier (here: a fake mp4
    # magic) fail fast inside the worker with the codec error
    with pytest.raises(Exception, match="no codec for payload magic"):
        MM.decode_media(media, kind="video", fake=False).collect()


def test_real_codecs_decode_resize_frames(spark):
    """The REAL (dependency-free) codec tier end-to-end: PCM WAV decode,
    binary PPM decode, nearest-neighbor PPM resize with byte-exact
    output, and concatenated-PPM video frame extraction — features match
    numpy computed directly on the source signal/pixels."""
    import io
    import struct
    import wave

    import numpy as np

    # 16-bit PCM WAV: 1s of a deterministic ramp at 8 kHz
    samples = np.arange(8000, dtype=np.int64) % 2000 - 1000
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    wav_bytes = buf.getvalue()

    # 4x4 P6 PPM with a distinctive gradient
    pix = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3) * 5
    ppm = b"P6\n4 4\n255\n" + pix.tobytes()
    # "video": 5 concatenated 2x2 P6 frames, frame i all-pixels == i*40
    frames = b"".join(
        b"P6\n2 2\n255\n" + bytes([i * 40] * 12) for i in range(5)
    )
    rows = [
        ("a", "audio", wav_bytes, (None, None, 8000, None)),
        ("i", "image", ppm, (4, 4, None, None)),
        ("v", "video", frames, (2, 2, None, 5)),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)

    feats = {
        r.media_id: list(r.features)
        for r in MM.decode_media(media, fake=False).collect()
    }
    x = samples.astype(np.float64) / 32768.0
    assert feats["a"][0] == 8000.0 and feats["a"][1] == 8000.0
    assert abs(feats["a"][2] - x.mean()) < 1e-12
    assert abs(feats["a"][6] - np.sqrt((x * x).mean())) < 1e-12
    xf = pix.reshape(-1).astype(np.float64)
    assert feats["i"][:2] == [4.0, 4.0]
    assert abs(feats["i"][2] - xf.mean()) < 1e-12
    assert feats["i"][4] == xf.min() and feats["i"][5] == xf.max()

    # real resize: 4x4 -> 2x2 nearest-neighbor gathers rows/cols 0 and 2
    out = {
        r.media_id: bytes(r.payload)
        for r in MM.resize_media(media, 2, 2, fake=False).collect()
    }
    want = b"P6\n2 2\n255\n" + pix[[0, 2]][:, [0, 2]].tobytes()
    assert out == {"i": want}
    # resized payload is itself decodable (round-trip through the codec)
    w, h, c, rp, _ = MM._decode_ppm(out["i"])
    assert (w, h, c) == (2, 2, 3)

    # real frame extraction from the concatenated-PPM stream
    got = {
        r.frame_idx: list(r.features)
        for r in MM.extract_frames(media, every_n=2, fake=False).collect()
    }
    assert sorted(got) == [0, 2, 4]
    for fi, f in got.items():
        assert f[:2] == [2.0, 2.0]
        assert f[2] == fi * 40.0  # mean pixel == frame brightness


def test_fake_decode_deterministic_by_content(spark, media):
    out = MM.decode_media(media, kind="image", fake=True).collect()
    feats = {r.media_id: (r.content_hash, list(r.features)) for r in out}
    assert set(feats) == {"m0", "m1", "m2"}
    # identical payload -> identical hash AND identical features
    assert feats["m0"] == feats["m2"]
    assert feats["m0"] != feats["m1"]
    assert all(len(v[1]) == MM.N_FEATURES for v in feats.values())


def test_decode_batch_shape_all_kinds(spark, media):
    out = MM.decode_media(media, fake=True)
    assert out.count() == 5
    assert out.schema["features"].dataType.simpleString() == "array<double>"


def test_frame_sample_plan(spark, media):
    frames = MM.frame_sample_plan(media, every_n=30).collect()
    assert [r.frame_idx for r in frames] == [0, 30, 60, 90]
    assert all(r.media_id == "m4" for r in frames)


# --- streaming ---------------------------------------------------------------


def test_streaming_session_counts_match_batch(spark):
    from go_html_transform_spark.operators.window import sessionize
    from go_html_transform_spark.sources.tables import sequences

    stream = ST.stream_sequences(spark, SF_DIR)
    assert stream.isStreaming
    got = ST.run_available_now(
        ST.streaming_session_counts(stream, gap_seconds=1800),
        "sess_counts",
    )
    # batch twin: sessionize + per-(doc, session) counts
    batch = sessionize(
        sequences(spark, SF_DIR).withColumn(
            "event_time", F.col("event_time").cast("timestamp")
        ),
        gap_seconds=1800,
    )
    expected = (
        batch.groupBy("doc_id", "session_id")
        .agg(F.count("*").alias("n_events"), F.sum("n_tok").alias("sum_n_tok"))
    )
    g = got.select("doc_id", "n_events", "sum_n_tok").orderBy("doc_id", "n_events")
    e = expected.select("doc_id", "n_events", "sum_n_tok").orderBy("doc_id", "n_events")
    assert [tuple(r) for r in g.collect()] == [tuple(r) for r in e.collect()]


def test_default_mode_ignores_static_aggregate_subtree(spark):
    """A stateless stream joined to a static DISTINCT/groupBy side must
    default to append: the old detector substring-matched "Aggregate" in
    the stringified plan, saw the static subtree's aggregate, forced
    complete mode, and Spark rejected the query at start."""
    stream = ST.stream_sequences(spark, SF_DIR)
    static_dim = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("source")
        .distinct()
        .withColumn("dim_flag", F.lit(1))
    )
    joined = stream.join(F.broadcast(static_dim), "source", "left")
    assert not ST._has_streaming_aggregate(
        joined._jdf.queryExecution().analyzed()
    )
    got = ST.run_available_now(joined, "static_agg_join")  # mode inferred
    assert got.count() > 0
    assert got.filter(F.col("dim_flag").isNull()).count() == 0
    # and a genuinely aggregating stream still reads as one
    agg = stream.groupBy("source").count()
    assert ST._has_streaming_aggregate(agg._jdf.queryExecution().analyzed())


def test_streaming_rule_counts(spark):
    stream = ST.stream_sequences(spark, SF_DIR)
    got = ST.run_available_now(
        ST.streaming_rule_counts(stream, "t982", window="24 hours"),
        "rule_counts",
    )
    rows = got.collect()
    assert len(rows) > 0
    total_stream = sum(r.n_matches for r in rows)
    # batch twin
    from go_html_transform_spark.plans.pipeline import Transformer
    from go_html_transform_spark.sources.tables import sequences

    total_batch = Transformer(sequences(spark, SF_DIR)).matched("t982").count()
    assert total_stream == total_batch


def test_stateful_features_cross_batch_parity(spark, tmp_path):
    """applyInPandasWithState running features: three time-sliced files ->
    three micro-batches; GroupState must carry (last_ts, session, cums)
    across batches and reproduce the batch window bundle exactly."""
    from pyspark.sql.window import Window

    from go_html_transform_spark.sources.tables import sequences

    base = (
        sequences(spark, SF_DIR)
        .select("doc_id", "event_id", "event_time", "n_tok")
        .withColumn("event_time", F.col("event_time").cast("timestamp"))
        .dropDuplicates(["doc_id", "event_time"])
    )
    t1, t2 = [
        r for r in base.select(F.percentile_approx("event_time", [0.33, 0.66], 10000)).first()[0]
    ]
    slices = [
        base.filter(F.col("event_time") <= F.lit(t1)),
        base.filter((F.col("event_time") > F.lit(t1)) & (F.col("event_time") <= F.lit(t2))),
        base.filter(F.col("event_time") > F.lit(t2)),
    ]
    src = str(tmp_path / "slices")
    for i, s in enumerate(slices):
        s.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = ST.streaming_stateful_features(stream, gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_feats")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("stateful_feats")

    w = Window.partitionBy("doc_id").orderBy("event_time", "event_id")
    wcur = w.rowsBetween(Window.unboundedPreceding, 0)
    # µs precision to match the stateful op (batch sessionize truncates to
    # whole seconds; same sessions whenever no gap straddles the boundary)
    secs = F.unix_micros(F.col("event_time")) / F.lit(1e6)
    gap = secs - F.lag(secs).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    expected = base.select(
        "doc_id",
        "event_id",
        (F.sum(is_new).over(wcur) - 1).alias("session_id"),
        F.row_number().over(w).alias("cum_events"),
        F.sum("n_tok").over(wcur).alias("cum_n_tok"),
        gap.cast("double").alias("gap_prev_s"),
    )
    def key(r):
        return (r.session_id, r.cum_events, r.cum_n_tok, r.gap_prev_s)

    def same(a, b):
        if a[:3] != b[:3]:
            return False
        ga, gb = a[3], b[3]
        if ga is None or gb is None:
            return ga is gb
        return abs(ga - gb) < 1e-3

    g = {r.event_id: key(r) for r in got.collect()}
    e = {r.event_id: key(r) for r in expected.collect()}
    assert len(g) == len(e) > 0
    mismatches = {k: (g[k], e[k]) for k in e if k not in g or not same(g[k], e[k])}
    assert not mismatches, list(mismatches.items())[:5]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark suppresses re-delivered keys across
    micro-batches: the same slice written twice (at-least-once delivery)
    must come out exactly once per (doc_id, event_id), matching the batch
    exact-dedup row set."""
    from go_html_transform_spark.sources.tables import sequences

    base = (
        sequences(spark, SF_DIR)
        .select("doc_id", "event_id", "event_time", "n_tok")
        .withColumn("event_time", F.col("event_time").cast("timestamp"))
        .limit(200)
    )
    src = str(tmp_path / "dup_slices")
    # two identical files -> two micro-batches, every key delivered twice
    base.coalesce(1).write.mode("append").parquet(src)
    base.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = ST.streaming_dedup(
        stream, key_cols=("doc_id", "event_id"), time_col="event_time",
        watermark="10 days",  # horizon >> data span: every re-delivery suppressed
    )
    got = ST.run_available_now(out, "stream_dedup", output_mode="append")
    got_keys = sorted((r.doc_id, r.event_id) for r in got.collect())
    want_keys = sorted(
        (r.doc_id, r.event_id)
        for r in base.dropDuplicates(["doc_id", "event_id"]).collect()
    )
    assert got_keys == want_keys
    assert len(got_keys) == len(set(got_keys))  # exactly once


def test_streaming_asof_enrich_matches_batch_asof(spark, tmp_path):
    """Stateless stream-static as-of == the batch as-of join (backward,
    inclusive, right-dup -> max value) on every (key, time) — including
    keys with no labels and times before the first label."""
    import datetime as dt

    from go_html_transform_spark.operators.asof import asof_join

    BASE = dt.datetime(2026, 1, 1)
    import random

    rng = random.Random(5)
    left = [
        (f"d{i%7:03d}", BASE + dt.timedelta(seconds=rng.randrange(0, 50000)), float(i))
        for i in range(300)
    ]
    right = [
        (f"d{i%5:03d}", BASE + dt.timedelta(seconds=rng.randrange(0, 50000)), round(rng.random(), 3))
        for i in range(60)
    ]
    right.append((right[0][0], right[0][1], -1.0))  # duplicate (key, t): max wins
    l = spark.createDataFrame(left, "doc_id string, event_time timestamp, lval double")
    r = spark.createDataFrame(right, "doc_id string, obs_time timestamp, label_value double")

    want = {
        (x.doc_id, x.event_time): x.label_value
        for x in asof_join(l, r, direction="backward").collect()
    }

    src = str(tmp_path / "asof_stream")
    l.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(l.schema).parquet(src)
    out = ST.streaming_asof_enrich(stream, r)
    assert out.isStreaming
    got_df = ST.run_available_now(out, "asof_enrich", output_mode="append")
    got = {(x.doc_id, x.event_time): x.label_value for x in got_df.collect()}
    assert got == want


def test_streaming_asof_enrich_stateful_matches_batch(spark, tmp_path):
    """State-store as-of (no broadcast ceiling): tagged union of event +
    label STREAMS, GroupState carrying (last_label_t, last_label_v) —
    parity with the batch as-of join across two time-sliced micro-batches,
    including same-t duplicate labels (max wins), same-t label/event ties
    (inclusive), and keys with no labels (NULL)."""
    import datetime as dt
    import random

    from go_html_transform_spark.operators.asof import asof_join

    BASE = dt.datetime(2026, 1, 1)
    rng = random.Random(9)
    left = [
        (f"d{i%7:03d}", i, BASE + dt.timedelta(seconds=rng.randrange(0, 50000)))
        for i in range(300)
    ]
    right = [
        (f"d{i%5:03d}", BASE + dt.timedelta(seconds=rng.randrange(0, 50000)),
         round(rng.random(), 3))
        for i in range(60)
    ]
    right.append((right[0][0], right[0][1], -1.0))  # dup (key, t): max wins
    # an exact label==event timestamp tie: inclusive -> label applies
    right.append((left[0][0], left[0][2], 7.5))
    l = spark.createDataFrame(
        left, "doc_id string, event_id long, event_time timestamp"
    )
    r = spark.createDataFrame(
        right, "doc_id string, obs_time timestamp, label_value double"
    )
    want = {
        x.event_id: x.label_value
        for x in asof_join(l, r, direction="backward").collect()
    }

    # time-slice BOTH sides at the same boundary so per-entity arrival is
    # in-order across micro-batches (the operator's documented contract)
    cut = BASE + dt.timedelta(seconds=25000)
    lsrc, rsrc = str(tmp_path / "ev"), str(tmp_path / "lab")
    for df, src, tcol in ((l, lsrc, "event_time"), (r, rsrc, "obs_time")):
        df.filter(F.col(tcol) <= F.lit(cut)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        df.filter(F.col(tcol) > F.lit(cut)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    import glob
    import os

    for src in (lsrc, rsrc):
        files = sorted(glob.glob(src + "/part-*.parquet"), key=os.path.getmtime)
        for i, f in enumerate(files):
            os.rename(f, os.path.join(src, f"batch-{i}.parquet"))

    ev_stream = (
        spark.readStream.schema(l.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(lsrc)
    )
    lab_stream = (
        spark.readStream.schema(r.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(rsrc)
    )
    out = ST.streaming_asof_enrich_stateful(ev_stream, lab_stream)
    assert out.isStreaming
    got_df = ST.run_available_now(out, "asof_stateful", output_mode="append")
    got = {x.event_id: x.label_value for x in got_df.collect()}
    assert len(got) == len(want) == 300
    assert got == want


def test_resize_media_plumbing(spark, media):
    # the fixture's fake-PNG bytes are outside the real codec tier
    with pytest.raises(Exception, match="unsupported image magic"):
        MM.resize_media(media, 16, 16, fake=False).collect()
    out = MM.resize_media(media, 16, 16, fake=True)
    rows = {r.media_id: r for r in out.collect()}
    assert set(rows) == {"m0", "m1", "m2"}  # images only
    for r in rows.values():
        assert r.meta.width == 16 and r.meta.height == 16
        assert len(r.payload) == 16 * 16 // 64
    # identical source payload -> identical resized bytes (determinism)
    assert bytes(rows["m0"].payload) == bytes(rows["m2"].payload)
    assert bytes(rows["m0"].payload) != bytes(rows["m1"].payload)
    # stable across partitionings
    out2 = MM.resize_media(media.repartition(5), 16, 16, fake=True)
    rows2 = {r.media_id: bytes(r.payload) for r in out2.collect()}
    assert rows2 == {k: bytes(v.payload) for k, v in rows.items()}


def test_streaming_token_stats_match_batch_cms(spark):
    """Streaming CMS drained with availableNow equals the batch sketch on
    the same rows, and the aggregation state is exactly the sketch cells
    (state-constant regardless of vocabulary)."""
    from go_html_transform_spark.operators import sketches as SK
    from go_html_transform_spark.sources.tables import sequences

    stream = ST.stream_sequences(spark, SF_DIR)
    got = ST.run_available_now(
        ST.streaming_token_stats(stream), "tok_stats_cms"
    )
    want = SK.count_min_sketch(sequences(spark, SF_DIR))
    g = [tuple(r) for r in got.orderBy("r", "cell").collect()]
    w = [tuple(r) for r in want.orderBy("r", "cell").collect()]
    assert g == w
    assert len(g) <= SK.CMS_DEPTH * SK.CMS_WIDTH


def test_streaming_cms_merges_with_batch_sketch(spark):
    """Lambda-architecture property: sketch(history) + sketch(stream) via
    cell-wise addition equals sketch(history UNION stream)."""
    from go_html_transform_spark.operators import sketches as SK

    hist = spark.createDataFrame(
        [("h0", [1, 2, 3]), ("h1", [2, 2])], "doc_id string, tokens array<int>"
    )
    live = spark.createDataFrame(
        [("l0", [3, 4])], "doc_id string, tokens array<int>"
    )
    merged = (
        SK.count_min_sketch(hist)
        .unionByName(SK.count_min_sketch(live))
        .groupBy("r", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = SK.count_min_sketch(hist.unionByName(live))
    assert sorted(tuple(r) for r in merged.collect()) == sorted(
        tuple(r) for r in whole.collect()
    )


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """availableNow drain of the stream-stream time-bounded join equals
    the batch inequality join with the same half-open µs contract —
    including boundary rows at exactly lower/upper offsets."""
    import datetime as dt
    import random

    BASE = dt.datetime(2026, 1, 1)
    rng = random.Random(11)
    left = [
        (f"d{i % 6:03d}", BASE + dt.timedelta(seconds=rng.randrange(0, 20000)), i)
        for i in range(200)
    ]
    right = [
        (f"d{i % 8:03d}", BASE + dt.timedelta(seconds=rng.randrange(0, 20000)), float(i))
        for i in range(150)
    ]
    # exact-boundary pairs: right at left+0 (kept) and left+3600 (dropped)
    left.append(("dBB", BASE, 900))
    right.append(("dBB", BASE, 9.0))
    right.append(("dBB", BASE + dt.timedelta(seconds=3600), 10.0))
    l = spark.createDataFrame(left, "doc_id string, event_time timestamp, eid int")
    r = spark.createDataFrame(right, "doc_id string, obs_time timestamp, rv double")

    cond = (
        (l["doc_id"] == r["doc_id"])
        & (r["obs_time"] >= l["event_time"])
        & (r["obs_time"] < l["event_time"] + F.expr("INTERVAL 3600 SECOND"))
    )
    want = sorted(
        (x.doc_id, x.event_time, x.eid, x.obs_time, x.rv)
        for x in l.join(r, cond).drop(r["doc_id"]).collect()
    )
    assert any(w[0] == "dBB" for w in want)  # lower boundary kept
    assert all(not (w[0] == "dBB" and w[4] == 10.0) for w in want)  # upper dropped

    lsrc, rsrc = str(tmp_path / "ij_l"), str(tmp_path / "ij_r")
    l.coalesce(2).write.parquet(lsrc)
    r.coalesce(2).write.parquet(rsrc)
    ls = spark.readStream.schema(l.schema).parquet(lsrc)
    rs = spark.readStream.schema(r.schema).parquet(rsrc)
    out = ST.streaming_interval_join(ls, rs, upper_seconds=3600)
    assert out.isStreaming
    got_df = ST.run_available_now(out, "interval_join", output_mode="append")
    got = sorted(
        (x.doc_id, x.event_time, x.eid, x.obs_time, x.rv) for x in got_df.collect()
    )
    assert got == want


def test_streaming_decayed_counts_cross_batch_parity(spark, tmp_path):
    """Streaming decayed counter across three time-sliced micro-batches ==
    the batch operator on the same rows (GroupState carries exactly the
    trailing `horizon` bucket counts; same-bucket events never feed
    their own feature)."""
    from go_html_transform_spark.operators.window import decayed_bucket_counts
    from go_html_transform_spark.sources.tables import sequences

    base = (
        sequences(spark, SF_DIR)
        .select("doc_id", "event_id", "event_time")
        .withColumn("event_time", F.col("event_time").cast("timestamp"))
    )
    t1, t2 = [
        r
        for r in base.select(
            F.percentile_approx("event_time", [0.33, 0.66], 10000)
        ).first()[0]
    ]
    slices = [
        base.filter(F.col("event_time") <= F.lit(t1)),
        base.filter(
            (F.col("event_time") > F.lit(t1)) & (F.col("event_time") <= F.lit(t2))
        ),
        base.filter(F.col("event_time") > F.lit(t2)),
    ]
    src = str(tmp_path / "slices")
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = ST.streaming_decayed_counts(stream, bucket_seconds=1800, horizon=4)
    got = ST.run_available_now(out, "stream_decayed", output_mode="append")
    got_map = {
        (r.doc_id, r.event_id): r["decayed_1800s_fp"] for r in got.collect()
    }
    want = decayed_bucket_counts(base, bucket_seconds=1800, horizon=4)
    want_map = {
        (r.doc_id, r.event_id): r["decayed_1800s_fp"] for r in want.collect()
    }
    assert len(got_map) == len(want_map) > 0
    assert got_map == want_map


def test_streaming_decayed_counts_same_bucket_continuation(spark, tmp_path):
    """Regression: an event whose bucket CONTINUES into the next
    micro-batch still needs the count at ``top - horizon`` (weight-1
    term). With horizon=4 and buckets [0, 4] in batch 1 then another
    bucket-4 event in batch 2, the batch-2 event's feature is
    counts[0] << 0 == 1 — state must persist ``horizon + 1`` counts,
    not ``horizon`` (which silently dropped bucket 0 and yielded 0)."""
    import datetime as dt

    def ts(sec):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

    schema = "doc_id string, event_id long, event_time timestamp"
    b1 = spark.createDataFrame(
        [("a", 1, ts(100)), ("a", 2, ts(4 * 1800 + 100))], schema
    )
    b2 = spark.createDataFrame([("a", 3, ts(4 * 1800 + 200))], schema)
    src = str(tmp_path / "cont")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    # name files so lexicographic discovery order == batch order
    import glob
    import os

    files = sorted(glob.glob(src + "/part-*.parquet"), key=os.path.getmtime)
    for i, f in enumerate(files):
        os.rename(f, os.path.join(src, f"batch-{i}.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = ST.streaming_decayed_counts(stream, bucket_seconds=1800, horizon=4)
    got = ST.run_available_now(out, "stream_decayed_cont", output_mode="append")
    got_map = {r.event_id: r["decayed_1800s_fp"] for r in got.collect()}
    # event 1 (bucket 0, first): 0; event 2 (bucket 4): counts[0]<<0 = 1
    # event 3 (bucket 4, next batch): same window as event 2 = 1
    assert got_map == {1: 0, 2: 1, 3: 1}


def test_extract_frames_plumbing(spark, media):
    """Frame extraction: codec-gated; fake mode emits one deterministic
    feature row per sampled frame, frames exploded inside the worker."""
    import pytest as _pytest

    # the fixture's fake-mp4 bytes are outside the real codec tier
    with _pytest.raises(Exception, match="unsupported image magic"):
        MM.extract_frames(media).collect()
    out = MM.extract_frames(media, every_n=10, fake=True)
    rows = out.collect()
    # m4 is the only video: n_frames=95, every 10 -> frames 0,10,...,90
    assert sorted(r.frame_idx for r in rows) == list(range(0, 95, 10))
    assert {r.media_id for r in rows} == {"m4"}
    assert all(len(r.features) == MM.N_FEATURES for r in rows)
    # deterministic across re-runs and partitionings
    again = MM.extract_frames(media.repartition(7), every_n=10, fake=True)
    a = {(r.media_id, r.frame_idx): tuple(r.features) for r in rows}
    b = {(r.media_id, r.frame_idx): tuple(r.features) for r in again.collect()}
    assert a == b
    # frame features differ across frames (the index feeds the digest)
    assert len({v for v in a.values()}) == len(a)


def test_chunk_audio_plumbing(spark, media):
    """Audio chunking: byte-exact slices, correct boundaries, lossless
    reassembly."""
    # m3: sample_rate 16000 -> 16000*2*1 = 32000 bytes/chunk at 1s; the
    # 13-byte fake payload yields exactly one (short) chunk
    out = MM.chunk_audio(media, chunk_seconds=1).collect()
    assert [(r.media_id, r.chunk_idx, r.start_s) for r in out] == [
        ("m3", 0, 0)
    ]
    assert out[0].payload == b"RIFF fake wav"
    # a longer synthetic payload chunks exactly and reassembles losslessly
    blob = bytes(range(256)) * 400  # 102400 bytes
    df = spark.createDataFrame(
        [("a0", "audio", blob, (None, None, 16000, None))], MM.MEDIA_SCHEMA
    )
    chunks = sorted(
        MM.chunk_audio(df, chunk_seconds=1).collect(),
        key=lambda r: r.chunk_idx,
    )
    step = 16000 * 2
    assert len(chunks) == (len(blob) + step - 1) // step == 4
    assert [r.start_s for r in chunks] == [0, 1, 2, 3]
    assert b"".join(bytes(r.payload) for r in chunks) == blob


def test_streaming_ewma_cross_batch_parity(spark, tmp_path):
    """Streaming EWMA across three time-sliced micro-batches == the batch
    applyInPandas ewma (pandas adjust=True semantics): the two-scalar
    (s, w) GroupState continues the weighted mean exactly."""
    import math

    from go_html_transform_spark.operators.window import ewma
    from go_html_transform_spark.sources.tables import sequences

    base = (
        sequences(spark, SF_DIR)
        .select("doc_id", "event_id", "event_time", "n_tok")
        .withColumn("event_time", F.col("event_time").cast("timestamp"))
    )
    t1, t2 = [
        r
        for r in base.select(
            F.percentile_approx("event_time", [0.33, 0.66], 10000)
        ).first()[0]
    ]
    slices = [
        base.filter(F.col("event_time") <= F.lit(t1)),
        base.filter(
            (F.col("event_time") > F.lit(t1)) & (F.col("event_time") <= F.lit(t2))
        ),
        base.filter(F.col("event_time") > F.lit(t2)),
    ]
    src = str(tmp_path / "slices")
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = ST.streaming_ewma(stream, "n_tok", alpha=0.3)
    got = ST.run_available_now(out, "stream_ewma", output_mode="append")
    got_map = {
        (r.doc_id, r.event_id): r["n_tok_ewma"] for r in got.collect()
    }
    want_map = {
        (r.doc_id, r.event_id): r["n_tok_ewma"]
        for r in ewma(base, "n_tok", alpha=0.3).collect()
    }
    assert len(got_map) == len(want_map) > 0
    for k, w in want_map.items():
        g = got_map[k]
        if w is None or (isinstance(w, float) and math.isnan(w)):
            assert g is None or math.isnan(g), k
        else:
            assert g is not None and abs(g - w) < 1e-9, (k, g, w)


def test_streaming_chunk_documents_matches_batch(spark, tmp_path):
    """chunk_documents is a stateless row-local explode+slice, so it must
    run unchanged on a streaming DataFrame and emit exactly the batch
    chunks regardless of how the corpus is split across micro-batches."""
    from go_html_transform_spark.operators.packing import chunk_documents

    rows = [
        (i, [j % 97 for j in range(i * 3 % 41)])
        for i in range(60)
    ]
    base = spark.createDataFrame(
        [(i, t, len(t)) for i, t in rows], "id long, tokens array<int>, n_tok int"
    )
    src = str(tmp_path / "chunk_src")
    # three files -> three micro-batches under maxFilesPerTrigger=1
    for lo, hi in ((0, 20), (20, 40), (40, 60)):
        base.filter((F.col("id") >= lo) & (F.col("id") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = chunk_documents(stream, window=8, stride=5, min_len=3).select(
        "id", "chunk_idx", "chunk_begin", "chunk_tokens"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("chunk_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.id, r.chunk_idx): (r.chunk_begin, list(r.chunk_tokens))
        for r in spark.table("chunk_stream").collect()
    }
    want = {
        (r.id, r.chunk_idx): (r.chunk_begin, list(r.chunk_tokens))
        for r in chunk_documents(base, window=8, stride=5, min_len=3)
        .select("id", "chunk_idx", "chunk_begin", "chunk_tokens")
        .collect()
    }
    assert got == want and len(want) > 60


def test_streaming_asof_enrich_many_stateful_matches_batch(spark, tmp_path):
    """k-table state-store as-of == batch asof_join_many across
    time-sliced micro-batches: per-table state (2k scalars), same-t dup
    labels (max wins), label==event ties (inclusive), entities missing
    from one table (NULL for that column only)."""
    import datetime as dt
    import random

    from go_html_transform_spark.operators.asof import asof_join_many

    BASE = dt.datetime(2026, 1, 1)
    rng = random.Random(11)
    left = [
        (f"d{i%7:03d}", i, BASE + dt.timedelta(seconds=rng.randrange(0, 50000)))
        for i in range(240)
    ]
    r1 = [
        (f"d{i%5:03d}", BASE + dt.timedelta(seconds=rng.randrange(0, 50000)),
         round(rng.random(), 3))
        for i in range(50)
    ]
    r2 = [
        (f"d{i%4:03d}", BASE + dt.timedelta(seconds=rng.randrange(0, 50000)),
         round(rng.random(), 3))
        for i in range(40)
    ]
    r1.append((r1[0][0], r1[0][1], -1.0))     # dup (key, t): max wins
    r2.append((left[0][0], left[0][2], 9.5))  # label==event tie: inclusive
    l = spark.createDataFrame(
        left, "doc_id string, event_id long, event_time timestamp"
    )
    d1 = spark.createDataFrame(
        r1, "doc_id string, obs_time timestamp, label_value double"
    )
    d2 = spark.createDataFrame(
        r2, "doc_id string, obs_time timestamp, label_value double"
    )
    want = {
        x.event_id: (x.a_label_value, x.b_label_value)
        for x in asof_join_many(l, {"a": d1, "b": d2}).collect()
    }

    cut = BASE + dt.timedelta(seconds=25000)
    import glob
    import os
    srcs = {}
    for tag, df, tcol in (("ev", l, "event_time"), ("a", d1, "obs_time"),
                          ("b", d2, "obs_time")):
        src = str(tmp_path / tag)
        df.filter(F.col(tcol) <= F.lit(cut)).coalesce(1).write.mode(
            "append").parquet(src)
        df.filter(F.col(tcol) > F.lit(cut)).coalesce(1).write.mode(
            "append").parquet(src)
        files = sorted(glob.glob(src + "/part-*.parquet"), key=os.path.getmtime)
        for i, f in enumerate(files):
            os.rename(f, os.path.join(src, f"batch-{i}.parquet"))
        srcs[tag] = src

    def rd(tag, schema):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(srcs[tag])
        )

    out = ST.streaming_asof_enrich_many_stateful(
        rd("ev", l.schema), {"a": rd("a", d1.schema), "b": rd("b", d2.schema)}
    )
    assert out.isStreaming
    got_df = ST.run_available_now(out, "asof_many_stateful", output_mode="append")
    got = {
        x.event_id: (x.a_label_value, x.b_label_value)
        for x in got_df.collect()
    }
    assert len(got) == len(want) == 240
    assert got == want


def test_streaming_decontaminate_matches_batch_hits(spark, tmp_path):
    """Stateless stream-static decontamination: hit multiset over three
    micro-batches == batch contaminated_hits; bloom pre-filter variant
    produces IDENTICAL output (exact verify after the probe)."""
    import random

    from go_html_transform_spark.operators import decontaminate as DC

    rng = random.Random(17)
    rows = []
    for i in range(36):
        rows.append((f"d{i:06d}", [rng.randrange(1024) for _ in range(30)]))
    rows[5] = ("d000005", list(rows[0][1]))  # full copy of eval doc
    rows[7] = ("d000007", rows[1][1][:3] + rows[0][1][:13])  # partial
    base = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    ev = base.filter(F.col("doc_id") == "d000000").select("tokens")

    batch_hits = sorted(
        (r.doc_id, r["__ng"])
        for r in DC.contaminated_hits(base, ev, "doc_id", n=13).collect()
    )
    assert batch_hits  # the planted copies must register

    src = str(tmp_path / "docs")
    for lo, hi in ((0, 12), (12, 24), (24, 36)):
        spark.createDataFrame(
            rows[lo:hi], "doc_id string, tokens array<int>"
        ).coalesce(1).write.mode("append").parquet(src)
    for m_bits in (None, 4096):
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = ST.streaming_decontaminate(
            stream, ev, n=13, bloom_m_bits=m_bits
        )
        assert out.isStreaming
        name = f"dec_hits_{m_bits or 0}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            (r.doc_id, r["__ng"]) for r in spark.table(name).collect()
        )
        assert got == batch_hits, m_bits


def test_streaming_bloom_build_equals_batch(spark, tmp_path):
    """availableNow drain of the streaming bloom == batch bloom_build on
    the same keys; the state is bounded at m/32 words."""
    import random

    from go_html_transform_spark.operators import bloom as BL

    rng = random.Random(3)
    keys = sorted(rng.sample(range(10**9), 400))
    src = str(tmp_path / "keys")
    for lo, hi in ((0, 150), (150, 300), (300, 400)):
        spark.createDataFrame(
            [(h,) for h in keys[lo:hi]], "h long"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("h long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got_df = ST.run_available_now(
        ST.streaming_bloom_build(stream), "bloom_words_stream"
    )
    got = {r.word_idx: r.word for r in got_df.collect()}
    batch = {
        r.word_idx: r.word
        for r in BL.bloom_build(
            spark.createDataFrame([(h,) for h in keys], "h long"), "h"
        ).collect()
    }
    assert got == batch
    assert len(got) <= 4096 // 32


def test_streaming_asof_replayed_smaller_label_cannot_win(spark, tmp_path):
    """Cross-batch duplicate-label tie-break (review finding): a label
    replayed in a LATER batch at the carried state's t with a SMALLER
    value must not be assigned to events in that batch — the batch
    engine's max tie-break applies across batches, not just to the
    carried state."""
    lsrc, esrc = str(tmp_path / "labs"), str(tmp_path / "evs")
    # both sources advance one file per trigger, so:
    #   batch 1 = {label (100s, v=5), event t=50s (pre-label -> NULL)}
    #   batch 2 = {REPLAYED label (100s, v=3), event t=150s}
    # the t=150 event processes in the same batch as the replay — the
    # buggy fillna-after-ffill assigned it 3.0
    for v in (5.0, 3.0):
        spark.createDataFrame(
            [("e1", 100_000_000, v)], "doc_id string, us long, label_value double"
        ).select(
            "doc_id", F.timestamp_micros(F.col("us")).alias("obs_time"), "label_value"
        ).coalesce(1).write.mode("append").parquet(lsrc)
    for eid, us in ((1, 50_000_000), (2, 150_000_000)):
        spark.createDataFrame(
            [("e1", eid, us)], "doc_id string, event_id long, us long"
        ).select(
            "doc_id", "event_id", F.timestamp_micros(F.col("us")).alias("event_time")
        ).coalesce(1).write.mode("append").parquet(esrc)

    def streams():
        ls = (
            spark.readStream.schema(
                "doc_id string, obs_time timestamp, label_value double"
            ).option("maxFilesPerTrigger", 1).parquet(lsrc)
        )
        es = (
            spark.readStream.schema(
                "doc_id string, event_id long, event_time timestamp"
            ).option("maxFilesPerTrigger", 1).parquet(esrc)
        )
        return es, ls

    es, ls = streams()
    out = ST.run_available_now(
        ST.streaming_asof_enrich_stateful(es, ls), "replay_single",
        output_mode="append",
    )
    got = {r.event_id: r.label_value for r in out.collect()}
    assert got[1] is None  # pre-label event
    assert got[2] == 5.0  # max wins, not the replayed 3.0

    es, ls = streams()
    out2 = ST.run_available_now(
        ST.streaming_asof_enrich_many_stateful(es, {"lab": ls}),
        "replay_many",
        output_mode="append",
    )
    got2 = {r.event_id: r.lab_label_value for r in out2.collect()}
    assert got2[1] is None and got2[2] == 5.0


def test_streaming_asof_null_valued_labels_match_batch(spark, tmp_path):
    """NULL-VALUED labels (review finding): the batch engine's contract
    is (a) a solitary NULL-valued label yields NULL for events after it
    — NOT the older label carried forward (a value-ffill skips NaN), and
    (b) a NULL-valued duplicate at the same (entity, t) LOSES the tie to
    any valued one (max(struct) treats NULL as smallest; a NaN-last sort
    let it win). Pinned for both stateful variants across two
    micro-batches, against the batch as-of on the same rows."""
    import datetime as dt

    from go_html_transform_spark.operators.asof import asof_join

    BASE = dt.datetime(2026, 1, 1)

    def at(s):
        return BASE + dt.timedelta(seconds=s)

    # entity a: value, then NULL label, then value again
    # entity b: same-t (NULL, valued) duplicates in both orders
    # entity c: NULL label in batch 1, event in batch 2 (state carries it)
    labels = [
        ("a", at(10), 1.0), ("a", at(20), None), ("a", at(30), 3.0),
        ("b", at(10), None), ("b", at(10), 2.0),
        ("b", at(40), 5.0), ("b", at(40), None),
        ("c", at(10), None), ("c", at(30), 4.0),
    ]
    events = [
        ("a", 1, at(15)), ("a", 2, at(25)), ("a", 3, at(35)),
        ("b", 4, at(15)), ("b", 5, at(45)),
        ("c", 6, at(20)), ("c", 7, at(35)),
    ]
    l = spark.createDataFrame(
        events, "doc_id string, event_id long, event_time timestamp"
    )
    r = spark.createDataFrame(
        labels, "doc_id string, obs_time timestamp, label_value double"
    )
    want = {
        x.event_id: x.label_value
        for x in asof_join(l, r, direction="backward").collect()
    }
    # the batch contract itself, spelled out (guards against the oracle
    # and the twin drifting together)
    assert want == {1: 1.0, 2: None, 3: 3.0, 4: 2.0, 5: 5.0, 6: None, 7: 4.0}

    cut = at(22)
    lsrc, rsrc = str(tmp_path / "ev"), str(tmp_path / "lab")
    for df, src, tcol in ((l, lsrc, "event_time"), (r, rsrc, "obs_time")):
        df.filter(F.col(tcol) <= F.lit(cut)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        df.filter(F.col(tcol) > F.lit(cut)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    import glob
    import os

    for src in (lsrc, rsrc):
        files = sorted(glob.glob(src + "/part-*.parquet"), key=os.path.getmtime)
        for i, f in enumerate(files):
            os.rename(f, os.path.join(src, f"batch-{i}.parquet"))

    def streams():
        es = (
            spark.readStream.schema(l.schema)
            .option("maxFilesPerTrigger", 1).parquet(lsrc)
        )
        ls = (
            spark.readStream.schema(r.schema)
            .option("maxFilesPerTrigger", 1).parquet(rsrc)
        )
        return es, ls

    es, ls = streams()
    out = ST.run_available_now(
        ST.streaming_asof_enrich_stateful(es, ls), "null_lab_single",
        output_mode="append",
    )
    got = {x.event_id: x.label_value for x in out.collect()}
    assert got == want

    es, ls = streams()
    out2 = ST.run_available_now(
        ST.streaming_asof_enrich_many_stateful(es, {"lab": ls}),
        "null_lab_many",
        output_mode="append",
    )
    got2 = {x.event_id: x.lab_label_value for x in out2.collect()}
    assert got2 == want


class _FakeGroupState:
    """Records the GroupState calls of one per-group invocation."""

    def __init__(self, timed_out=False, value=None):
        self.hasTimedOut = timed_out
        self.exists = value is not None
        self.get = value
        self.calls = []

    def remove(self):
        self.calls.append(("remove",))

    def update(self, value):
        self.calls.append(("update", value))

    def setTimeoutDuration(self, ms):
        self.calls.append(("timeout", ms))


def test_group_state_driver_evicts_timed_out_groups():
    """Idle-timeout eviction: a timed-out group's state is removed, the
    step never runs, nothing is emitted and no timeout is re-armed."""
    seen = []

    def step(ent, batch, prior):
        seen.append(ent)
        return batch, (1,)

    state = _FakeGroupState(timed_out=True, value=(7,))
    assert list(ST._group_fn(step, 5)(("e1",), iter([]), state)) == []
    assert state.calls == [("remove",)]
    assert seen == []


def test_group_state_driver_live_group_protocol():
    """A live group: the step sees the entity, the concatenated batch and
    the carried state; its frame is emitted, its state stored, and the
    idle timeout (minutes) is re-armed in milliseconds. With no timeout
    configured none is set; an empty batch skips the step."""
    import pandas as pd

    seen = []

    def step(ent, batch, prior):
        seen.append((ent, list(batch["x"]), prior))
        return batch.assign(y=batch["x"] * 2), (int(batch["x"].sum()),)

    pdfs = [pd.DataFrame({"x": [1, 2]}), pd.DataFrame({"x": [3]})]
    state = _FakeGroupState(value=(4,))
    out = list(ST._group_fn(step, 5)(("e1",), iter(pdfs), state))
    assert seen == [("e1", [1, 2, 3], (4,))]
    assert [list(o["y"]) for o in out] == [[2, 4, 6]]
    assert state.calls == [("update", (6,)), ("timeout", 300_000)]

    fresh = _FakeGroupState()
    list(ST._group_fn(step, None)(("e2",), iter(pdfs[:1]), fresh))
    assert seen[-1] == ("e2", [1, 2], None)
    assert fresh.calls == [("update", (3,))]

    empty = _FakeGroupState(value=(4,))
    no_rows = [pd.DataFrame({"x": pd.Series([], dtype="int64")})]
    assert list(ST._group_fn(step, 5)(("e3",), iter(no_rows), empty)) == []
    assert len(seen) == 2
    assert empty.calls == [("timeout", 300_000)]


def test_stateful_operator_runs_with_an_idle_timeout(spark, tmp_path):
    """``idle_timeout_minutes`` selects the processing-time timeout on a
    real query. That timeout runs a batch on every trigger (to check for
    idle groups), so neither an availableNow drain nor
    processAllAvailable() ever returns: the query runs on a
    processing-time trigger until its one input file is in the sink. No
    entity idles 5 minutes in that time, so the output equals the run
    without a timeout."""
    import time

    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [("a", 1, 0, 3), ("a", 2, 60, 4), ("b", 3, 30, 5)],
        "doc_id string, event_id long, s long, n_tok int",
    ).select(
        "doc_id", "event_id",
        F.timestamp_seconds("s").alias("event_time"), "n_tok",
    ).coalesce(1).write.parquet(src)

    def drained(name, **kw):
        stream = spark.readStream.schema(
            "doc_id string, event_id long, event_time timestamp, n_tok int"
        ).parquet(src)
        q = (
            ST.streaming_ewma(stream, "n_tok", alpha=0.5, **kw)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            deadline = time.monotonic() + 120
            while spark.table(name).count() < 3:
                assert q.exception() is None and time.monotonic() < deadline
                time.sleep(0.5)
        finally:
            q.stop()
        rows = spark.table(name).collect()
        return sorted((r.event_id, r.n_tok_ewma) for r in rows)

    got = drained("ewma_idle_timeout", idle_timeout_minutes=5)
    assert got == drained("ewma_no_timeout")
    assert got == [(1, None), (2, 3.0), (3, None)]


def test_run_available_now_refuses_an_idle_timeout(spark, tmp_path):
    """A GroupState operator with ``idle_timeout_minutes`` never drains
    with availableNow, so run_available_now raises before starting any
    query. The plan predicate is asserted first: were it to miss, the
    drain below would hang instead of failing."""
    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [("a", 1, 0, 3)], "doc_id string, event_id long, s long, n_tok int"
    ).select(
        "doc_id", "event_id",
        F.timestamp_seconds("s").alias("event_time"), "n_tok",
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id string, event_id long, event_time timestamp, n_tok int"
    ).parquet(src)
    timed = ST.streaming_ewma(stream, "n_tok", idle_timeout_minutes=5)
    untimed = ST.streaming_ewma(stream, "n_tok")

    def plan(df):
        return df._jdf.queryExecution().analyzed()

    assert ST._has_processing_time_timeout(plan(timed))
    assert not ST._has_processing_time_timeout(plan(untimed))
    with pytest.raises(ValueError, match="idle timeout"):
        ST.run_available_now(timed, "ewma_refused")
    assert spark.streams.active == []


def test_run_available_now_default_mode_probes_the_plan(spark, tmp_path):
    """Non-aggregating streams drain with the default output mode (the
    old default keyed on isStreaming — always true — and crashed)."""
    src = str(tmp_path / "rows")
    spark.createDataFrame(
        [(1,), (2,)], "h long"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("h long").parquet(src)
    got = ST.run_available_now(stream.filter(F.col("h") > 1), "nonagg_default")
    assert [r.h for r in got.collect()] == [2]
