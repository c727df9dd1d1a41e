"""Snapshot-manifest table layer (sources/manifest_table.py): snapshot
isolation + time travel, footer-stats file pruning (soundness AND that it
actually prunes), atomic commit semantics, and lineage integration."""

from __future__ import annotations

import errno
import os

import pytest
from pyspark.sql import functions as F

from go_html_transform_spark.sources.manifest_table import ManifestTable


@pytest.fixture()
def table(tmp_path):
    return ManifestTable(str(tmp_path / "tbl"))


def _range_df(spark, lo, hi, parts=2):
    return (
        spark.range(lo, hi, 1, parts)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % 7).alias("doc_id"),
            (F.col("id") * 10).alias("ts_us"),
        )
    )


def test_append_time_travel_and_counts(spark, table):
    s1 = table.append(_range_df(spark, 0, 100), stats_cols=["event_id", "ts_us"])
    s2 = table.append(_range_df(spark, 100, 250), stats_cols=["event_id", "ts_us"])
    assert (s1, s2) == (1, 2)
    assert table.current_snapshot_id() == 2
    # manifest row counts are exact without running a job
    assert table.row_count(snapshot=1) == 100
    assert table.row_count(snapshot=2) == 250
    # time travel: snapshot 1 still reads only the first commit
    assert table.scan(spark, snapshot=1).count() == 100
    assert table.scan(spark).count() == 250
    got = sorted(
        r.event_id for r in table.scan(spark, snapshot=1).collect()
    )
    assert got == list(range(100))


def test_overwrite_keeps_old_snapshots_readable(spark, table):
    table.append(_range_df(spark, 0, 50))
    table.overwrite(_range_df(spark, 1000, 1010))
    assert table.scan(spark).count() == 10
    assert table.scan(spark, snapshot=1).count() == 50


def test_file_pruning_is_sound_and_effective(spark, table):
    # four appends over disjoint event_id ranges -> disjoint file stats
    for lo in (0, 1000, 2000, 3000):
        table.append(
            _range_df(spark, lo, lo + 500, parts=2),
            stats_cols=["event_id"],
        )
    all_files = table.files()
    pruned = table.files(prune={"event_id": (2100, 2200)})
    # effective: only the files of the third commit can overlap
    assert 0 < len(pruned) < len(all_files)
    # sound: pruned scan + real filter == full scan + real filter
    full = (
        table.scan(spark)
        .filter(F.col("event_id").between(2100, 2200))
        .count()
    )
    fast = (
        table.scan(spark, prune={"event_id": (2100, 2200)})
        .filter(F.col("event_id").between(2100, 2200))
        .count()
    )
    assert full == fast == 101
    # open bounds
    assert len(table.files(prune={"event_id": (3400, None)})) < len(all_files)
    # a column with no recorded stats never prunes
    assert len(table.files(prune={"doc_id": (99, 99)})) == len(all_files)


def test_string_stats_prune(spark, table):
    df = spark.createDataFrame(
        [("a", 1), ("b", 2)], "source string, v int"
    ).repartition(1)
    table.append(df, stats_cols=["source"])
    df2 = spark.createDataFrame(
        [("x", 3), ("y", 4)], "source string, v int"
    ).repartition(1)
    table.append(df2, stats_cols=["source"])
    assert len(table.files(prune={"source": ("x", "z")})) == 1


def test_atomic_pointer_torn_writer(spark, table):
    """A writer that dies after writing data but BEFORE the pointer swap
    leaves the table at the previous snapshot (orphaned files invisible)."""
    table.append(_range_df(spark, 0, 10))
    # simulate the torn write: data + manifest exist, VERSION not swapped
    files = table._write_data(_range_df(spark, 10, 20), None)
    snap = table.current_snapshot_id()
    # (no _commit call) — readers still see snapshot 1
    assert table.current_snapshot_id() == snap == 1
    assert table.scan(spark).count() == 10
    assert all(os.path.exists(f.path) for f in files)  # orphaned, not live


def test_concurrent_commit_loses_loudly(spark, table):
    """Optimistic concurrency: of two writers that both read the same
    parent snapshot, the second to write the manifest must FAIL with
    ConcurrentCommitError — never silently overwrite the winner's
    manifest (the lost-update would orphan the winner's data files while
    VERSION still advertised its snapshot id)."""
    from go_html_transform_spark.sources.manifest_table import (
        ConcurrentCommitError,
    )

    table.append(_range_df(spark, 0, 10))
    table.append(_range_df(spark, 10, 20))  # snapshot 2 committed
    stale_files = table._write_data(_range_df(spark, 20, 30), None)
    with pytest.raises(ConcurrentCommitError):
        table._commit(stale_files, parent=1)  # stale: would re-commit snap 2
    # the winner's state is intact
    assert table.current_snapshot_id() == 2
    assert table.scan(spark).count() == 20


def test_crashed_writer_tmp_never_wedges(spark, table):
    """A writer killed BEFORE the atomic manifest link leaves only a
    unique ``*.tmp`` in manifests/ — invisible to readers, and the next
    commit claims the snapshot id normally (no wedge, no recovery path
    that could delete a live writer's published manifest)."""
    table.append(_range_df(spark, 0, 10))
    # simulate the kill: fully-written manifest content under a tmp name
    with open(table._manifest_path(2) + ".deadbeef.tmp", "w") as f:
        f.write('{"snapshot_id": 2, "parent_id": 1, "files": []}')
    assert table.current_snapshot_id() == 1
    s2 = table.append(_range_df(spark, 10, 25))
    assert s2 == 2
    assert table.current_snapshot_id() == 2
    assert table.scan(spark).count() == 25


def test_published_manifest_survives_stale_version_cache(spark, table):
    """The VERSION file is an advisory cache: a writer killed between
    manifest publish and VERSION refresh HAS committed — readers derive
    the snapshot from the manifest listing, and a stale (or missing)
    VERSION changes nothing. A second writer with the stale parent must
    lose loudly WITHOUT touching the published manifest (the lost-update
    race of delete-and-retake orphan recovery)."""
    from go_html_transform_spark.sources.manifest_table import (
        ConcurrentCommitError,
    )

    table.append(_range_df(spark, 0, 10))
    table.append(_range_df(spark, 10, 30))  # snapshot 2 published
    # simulate A killed pre-refresh / cache loss: VERSION gone entirely
    os.remove(os.path.join(table.root, "VERSION"))
    assert table.current_snapshot_id() == 2
    assert table.scan(spark).count() == 30
    before = open(table._manifest_path(2)).read()
    # B raced A with the same parent: must fail loudly, manifest intact
    stale_files = table._write_data(_range_df(spark, 30, 40), None)
    with pytest.raises(ConcurrentCommitError):
        table._commit(stale_files, parent=1)
    assert open(table._manifest_path(2)).read() == before
    assert table.current_snapshot_id() == 2
    assert table.scan(spark).count() == 30


@pytest.mark.parametrize(
    "err", [errno.ENOENT, errno.EPERM], ids=["ENOENT", "EPERM"]
)
def test_link_failure_raises_typed_commit_error(spark, table, monkeypatch, err):
    """A manifest link that fails for any reason but a lost race (tmp
    file reclaimed, no hard links on the filesystem) raises CommitError
    chained from the OSError, not ConcurrentCommitError, and publishes
    nothing."""
    from go_html_transform_spark.sources import manifest_table as MT

    table.append(_range_df(spark, 0, 10))
    files = table._write_data(_range_df(spark, 10, 20), None)

    def broken_link(src, dst):
        raise OSError(err, os.strerror(err), src)

    monkeypatch.setattr(MT.os, "link", broken_link)
    with pytest.raises(MT.CommitError) as info:
        table._commit(files, parent=1)
    assert not isinstance(info.value, MT.ConcurrentCommitError)
    assert isinstance(info.value.__cause__, OSError)
    assert info.value.__cause__.errno == err
    monkeypatch.undo()
    assert table.current_snapshot_id() == 1
    assert not [
        n for n in os.listdir(os.path.join(table.root, "manifests"))
        if n.endswith(".tmp")
    ]
    assert issubclass(MT.ConcurrentCommitError, MT.CommitError)


def test_empty_prune_result_yields_empty_frame(spark, table):
    table.append(_range_df(spark, 0, 10), stats_cols=["event_id"])
    out = table.scan(spark, prune={"event_id": (10_000, 20_000)})
    assert out.count() == 0
    assert "event_id" in out.columns


def test_lineage_snapshot_integration(spark, table, tmp_path):
    """The manifest snapshot id is the lineage snapshot_id: re-running a
    stage over the SAME snapshot resumes (no pending buckets); a new
    append bumps the snapshot and the stage reprocesses."""
    from go_html_transform_spark.plans.lineage import CheckpointTable

    table.append(_range_df(spark, 0, 100))
    ckpt = CheckpointTable(spark, str(tmp_path / "ckpt"))
    snap1 = str(table.current_snapshot_id())
    sink = str(tmp_path / "sink")

    src = table.scan(spark).withColumnRenamed("event_id", "id")
    n = ckpt.run_stage(src, "stage_a", sink, key="id", snapshot_id=snap1)
    assert n == 100
    # same snapshot: fully resumed, nothing to do
    assert ckpt.run_stage(src, "stage_a", sink, key="id",
                          snapshot_id=snap1) == 0
    # new data -> new snapshot id -> the stage reprocesses cleanly
    table.append(_range_df(spark, 100, 120))
    snap2 = str(table.current_snapshot_id())
    src2 = table.scan(spark).withColumnRenamed("event_id", "id")
    assert snap2 != snap1
    assert ckpt.run_stage(src2, "stage_a", str(tmp_path / "sink2"),
                          key="id", snapshot_id=snap2) == 120


def test_compaction_content_identical_and_fewer_files(spark, table):
    from go_html_transform_spark.sources.manifest_table import compact

    for lo in (0, 100, 200, 300):
        table.append(_range_df(spark, lo, lo + 100, parts=4),
                     stats_cols=["event_id"])
    before_files = table.files()
    before_rows = sorted(r.event_id for r in table.scan(spark).collect())
    res = compact(table, spark, small_bytes=32 * 1024 * 1024,
                  target_files=2, stats_cols=["event_id"])
    assert res["rewritten"] == len(before_files)
    after_files = table.files()
    assert len(after_files) <= 2
    after_rows = sorted(r.event_id for r in table.scan(spark).collect())
    assert after_rows == before_rows
    # time travel to the pre-compaction snapshot still works
    assert table.scan(spark, snapshot=4).count() == 400
    # compacted files carry fresh stats -> pruning still effective
    assert len(table.files(prune={"event_id": (50_000, None)})) == 0
    # second compaction is a no-op (nothing small left OR single file)
    res2 = compact(table, spark, small_bytes=1, target_files=1)
    assert res2["snapshot"] == 0


def test_expire_snapshots_gc_unreachable_only(spark, table):
    import os

    from go_html_transform_spark.sources.manifest_table import (
        compact,
        expire_snapshots,
    )

    table.append(_range_df(spark, 0, 100, parts=2))
    table.append(_range_df(spark, 100, 200, parts=2))
    compact(table, spark, small_bytes=32 * 1024 * 1024)  # snapshot 3
    pre_live = {f.path for f in table.files()}
    res = expire_snapshots(table, keep_last=1)
    assert res["expired"] == 2
    # current snapshot fully readable; its files untouched
    assert table.scan(spark).count() == 200
    assert all(os.path.exists(p) for p in pre_live)
    # the rewritten originals (only referenced by expired snaps) are gone
    assert res["deleted_files"] > 0
    # expired manifests unreadable, current still fine
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        table._read_manifest(1)


def test_stream_to_table_exactly_once(spark, table, tmp_path):
    """Streaming sink: one snapshot per micro-batch, row-exact content,
    epoch id atomic with the commit, and a replayed epoch is skipped."""
    from go_html_transform_spark.sources.manifest_table import (
        last_committed_epoch,
        stream_to_table,
    )

    base = _range_df(spark, 0, 300)
    src = str(tmp_path / "src")
    for lo in (0, 100, 200):
        base.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < lo + 100)
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_to_table(
        stream, table, stats_cols=["event_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    # three micro-batches -> three snapshots, content == source
    assert table.current_snapshot_id() == 3
    got = sorted(r.event_id for r in table.scan(spark).collect())
    assert got == list(range(300))
    last = last_committed_epoch(table)
    assert last is not None
    # replayed batch (same epoch id) is skipped atomically
    from go_html_transform_spark.sources.manifest_table import ManifestTable

    dup = _range_df(spark, 900, 950)
    before = table.current_snapshot_id()
    # simulate foreachBatch replay: epoch <= last
    from go_html_transform_spark.sources import manifest_table as MT

    def replay(epoch):
        l = MT.last_committed_epoch(table)
        if l is not None and epoch <= l:
            return False
        table.append(dup, extra={"epoch_id": epoch})
        return True

    assert replay(last) is False
    assert table.current_snapshot_id() == before
    assert replay(last + 1) is True
    assert table.current_snapshot_id() == before + 1
    # a plain (non-streaming) append doesn't lose the epoch chain
    table.append(_range_df(spark, 1000, 1010))
    assert last_committed_epoch(table) == last + 1


def test_stream_to_table_second_run_not_skipped(spark, table, tmp_path):
    """Regression: a SECOND ingestion run into the same table (new
    checkpoint -> Spark restarts epoch ids at 0) must not be dropped as
    a 'replay' of the first run's epochs — the guard is (run_id, epoch),
    not bare epoch."""
    from go_html_transform_spark.sources.manifest_table import stream_to_table

    def run(lo, ckpt):
        df = _range_df(spark, lo, lo + 50)
        src = str(tmp_path / f"src{lo}")
        df.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        q = stream_to_table(stream, table, checkpoint_dir=str(tmp_path / ckpt))
        q.awaitTermination()

    run(0, "ckpt_a")
    run(100, "ckpt_b")  # fresh checkpoint: epochs restart at 0
    got = sorted(r.event_id for r in table.scan(spark).collect())
    assert got == list(range(0, 50)) + list(range(100, 150))
    # and with NO checkpoint at all (fresh uuid run_id) it still commits
    df = _range_df(spark, 200, 220)
    src = str(tmp_path / "src200")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = stream_to_table(stream, table)
    q.awaitTermination()
    assert table.scan(spark).count() == 120
