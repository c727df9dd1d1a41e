"""Snapshot-manifest table layer — the Iceberg table model (snapshots,
manifests, file-level column stats, time travel, atomic commits)
implemented over plain parquet so it actually RUNS in this sandbox
(sources/iceberg.py holds the real-Iceberg DDL, gated on catalog jars;
this module is the working twin with the same semantics).

Layout:

    <root>/data/<commit-uuid>/part-*.parquet     immutable data files
    <root>/manifests/snap-<n>.json               one manifest per snapshot
    <root>/VERSION                               atomic current-snapshot ptr

A manifest lists every data file live in that snapshot with its row
count and per-column [min, max] stats read from the PARQUET FOOTER via
pyarrow — no data scan (exactly how Iceberg builds manifests). Commits
are atomic AT THE MANIFEST PUBLISH: the manifest document is fully
written to a unique tmp file, then os.link()'d to its final
``snap-<n>.json`` name — the link either claims the snapshot id with
complete content or fails with FileExistsError (the optimistic-
concurrency loser; Iceberg's catalog swap, played by the filesystem's
atomic link). There is NO window in which a half-written or deletable
manifest is visible, so no crash-recovery path ever removes a file a
live writer may have just published (the lost-update race a
delete-and-retake recovery scheme allows). A killed writer leaves only
an inert ``*.tmp`` (plus unreachable data files) — garbage, never a
wedge. ``VERSION`` is a best-effort convenience cache of the newest
snapshot id for humans/tools; readers derive the current snapshot from
the manifest listing and never trust VERSION.

Why this matters at 10^12 rows: ``scan`` prunes FILES from the manifest
stats before Spark ever lists a directory — a predicate on the sort/
partition axis turns a 100 TB scan into reading only the overlapping
files, and planning cost is O(manifest), not O(listing). Spark then
applies the same predicate again for row-group pruning inside the
surviving files (the manifest prune is an upper-bound filter, never a
substitute for the real one).

Reference precedent: the reference's whole-tree snapshot clone
(h5/node.go Clone; SURVEY §2.2) — immutable versions you can keep
reading while a new one is produced.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

_VERSION = "VERSION"


class CommitError(RuntimeError):
    """A snapshot commit failed to publish its manifest. The cause is
    chained: an ``OSError`` from the link (ENOENT when expire_snapshots
    reclaimed a stalled writer's tmp file — retryable; EPERM/ENOTSUP on
    a filesystem without hard links — not)."""


class ConcurrentCommitError(CommitError):
    """Another writer committed the same snapshot id first (optimistic
    concurrency loser). Re-read the table state and retry the commit."""


@dataclass(frozen=True)
class DataFile:
    path: str
    rows: int
    # col -> (min, max) for stats-bearing leaf columns (None when the
    # footer carries no stats for the column, e.g. nested/binary)
    stats: dict[str, tuple]


def _file_stats(path: str, stats_cols: list[str] | None) -> DataFile:
    """File-level stats from the parquet footer (row-group min/max folded
    to file min/max) — zero data pages read."""
    md = pq.ParquetFile(path).metadata
    names = md.schema.names
    want = set(stats_cols) if stats_cols is not None else set(names)
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in want:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return DataFile(
        path=path,
        rows=md.num_rows,
        stats={k: (mins[k], maxs[k]) for k in mins},
    )


def _json_safe(v):
    """Manifest values must round-trip through JSON; parquet footer stats
    arrive as python scalars/bytes. bytes -> utf-8 (parquet string stats)."""
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return v


class ManifestTable:
    """Snapshot-manifest parquet table with file-level stats pruning.

    The table root must be on a filesystem with hard links: a commit
    publishes its manifest with ``os.link``, and any link failure other
    than losing the race raises ``CommitError``."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    # -- snapshot bookkeeping ------------------------------------------------

    def current_snapshot_id(self) -> int:
        """0 = empty table (no committed snapshot). Derived from the
        manifest listing (the commit point), not the VERSION cache: a
        writer killed between publishing ``snap-<n>.json`` and
        refreshing VERSION has still committed, and expire_snapshots
        never removes the newest manifest, so max(listing) is exact.
        O(#snapshots) listing — planning-side metadata, not data."""
        best = 0
        try:
            names = os.listdir(os.path.join(self.root, "manifests"))
        except FileNotFoundError:
            return 0
        for name in names:
            if name.startswith("snap-") and name.endswith(".json"):
                try:
                    best = max(best, int(name[5:-5]))
                except ValueError:
                    continue
        return best

    def _manifest_path(self, snap: int) -> str:
        return os.path.join(self.root, "manifests", f"snap-{snap}.json")

    def _read_manifest(self, snap: int) -> list[DataFile]:
        if snap == 0:
            return []
        with open(self._manifest_path(snap)) as f:
            doc = json.load(f)
        return [
            DataFile(e["path"], e["rows"],
                     {k: tuple(v) for k, v in e["stats"].items()})
            for e in doc["files"]
        ]

    def _commit(
        self, files: list[DataFile], parent: int, extra: dict | None = None
    ) -> int:
        snap = parent + 1
        doc = {
            **(extra or {}),
            "snapshot_id": snap,
            "parent_id": parent,
            "files": [
                {
                    "path": f.path,
                    "rows": f.rows,
                    "stats": {k: [_json_safe(v[0]), _json_safe(v[1])]
                              for k, v in f.stats.items()},
                }
                for f in files
            ],
        }
        # optimistic concurrency (Iceberg's commit contract): the manifest
        # is FULLY written under a unique tmp name (no contention), then
        # os.link()'d to snap-<n>.json — an atomic claim of the snapshot
        # id that publishes complete content in the same instant. Of two
        # writers that both read parent N, exactly one link succeeds; the
        # loser FAILS loudly (retry = re-read the new parent and
        # re-commit). Nothing in the commit path ever deletes a published
        # manifest, so there is no window where a live writer's commit
        # can be removed by a "recovery" pass (the lost-update race of a
        # delete-and-retake scheme), and readers can never hit a
        # momentarily-missing manifest. A writer killed mid-commit leaves
        # only its tmp file — inert garbage, never a wedge, reclaimed by
        # expire_snapshots.
        tmp = self._manifest_path(snap) + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        try:
            os.link(tmp, self._manifest_path(snap))
        except FileExistsError:
            raise ConcurrentCommitError(
                f"snapshot {snap} was committed by a concurrent "
                f"writer (parent {parent} is stale); re-read and retry"
            ) from None
        except OSError as e:
            raise CommitError(
                f"snapshot {snap} manifest could not be published: {e}"
            ) from e
        finally:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass
        # best-effort VERSION cache refresh (advisory only — readers use
        # the manifest listing); os.replace keeps it never-torn, and a
        # stale value from an out-of-order racing refresh is harmless
        vtmp = os.path.join(self.root, _VERSION + f".{uuid.uuid4().hex}.tmp")
        with open(vtmp, "w") as f:
            f.write(str(snap))
        os.replace(vtmp, os.path.join(self.root, _VERSION))
        return snap

    # -- writes ---------------------------------------------------------------

    def _write_data(
        self, df: DataFrame, stats_cols: list[str] | None
    ) -> list[DataFile]:
        commit_dir = os.path.join(self.root, "data", uuid.uuid4().hex)
        df.write.parquet(commit_dir)
        out = []
        for name in sorted(os.listdir(commit_dir)):
            if not name.endswith(".parquet"):
                continue
            out.append(_file_stats(os.path.join(commit_dir, name), stats_cols))
        return out

    def append(
        self,
        df: DataFrame,
        stats_cols: list[str] | None = None,
        extra: dict | None = None,
    ) -> int:
        """New snapshot = parent's files + the new commit's files.
        ``extra`` rides inside the manifest doc itself — metadata that
        must be ATOMIC with the commit (e.g. the streaming epoch id)."""
        parent = self.current_snapshot_id()
        files = self._read_manifest(parent) + self._write_data(df, stats_cols)
        return self._commit(files, parent, extra)

    def overwrite(self, df: DataFrame, stats_cols: list[str] | None = None) -> int:
        """New snapshot referencing ONLY the new files (old snapshots stay
        readable — time travel — until an expire pass removes them)."""
        parent = self.current_snapshot_id()
        return self._commit(self._write_data(df, stats_cols), parent)

    # -- reads ----------------------------------------------------------------

    def files(
        self,
        snapshot: int | None = None,
        prune: dict[str, tuple] | None = None,
    ) -> list[DataFile]:
        """Live files of a snapshot, optionally pruned by range predicates
        ``{col: (lo, hi)}`` (inclusive; None bound = open). A file is kept
        unless its footer stats PROVE it disjoint — files without stats
        for the column are always kept (pruning is sound, never risky)."""
        snap = self.current_snapshot_id() if snapshot is None else snapshot
        files = self._read_manifest(snap)
        if not prune:
            return files
        kept = []
        for f in files:
            keep = True
            for col, (lo, hi) in prune.items():
                st = f.stats.get(col)
                if st is None:
                    continue
                fmin, fmax = st
                if (hi is not None and fmin > hi) or (
                    lo is not None and fmax < lo
                ):
                    keep = False
                    break
            if keep:
                kept.append(f)
        return kept

    def scan(
        self,
        spark: SparkSession,
        snapshot: int | None = None,
        prune: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """DataFrame over exactly the (pruned) live files of a snapshot.
        The caller must still apply its real filter — manifest pruning is
        file-granular. Empty file set -> empty DataFrame with the table
        schema read from any manifest file (or an error on a never-
        written table)."""
        files = self.files(snapshot, prune)
        if files:
            return spark.read.parquet(*[f.path for f in files])
        all_files = self._read_manifest(
            self.current_snapshot_id() if snapshot is None else snapshot
        ) or self._read_manifest(self.current_snapshot_id())
        if not all_files:
            raise ValueError("scan of an empty ManifestTable with no schema")
        schema = spark.read.parquet(all_files[0].path).schema
        return spark.createDataFrame([], schema)

    def row_count(self, snapshot: int | None = None) -> int:
        """Exact row count from the manifest — O(1), no job."""
        return sum(f.rows for f in self.files(snapshot))


# ---------------------------------------------------------------------------
# table maintenance: compaction + snapshot expiry
# ---------------------------------------------------------------------------


def compact(
    table: ManifestTable,
    spark: SparkSession,
    small_bytes: int = 32 * 1024 * 1024,
    target_files: int = 1,
    stats_cols: list[str] | None = None,
) -> dict:
    """Small-file compaction: rewrite every live file under
    ``small_bytes`` into ``target_files`` larger files and commit a new
    snapshot that swaps them atomically — content-identical, old
    snapshots still readable (time travel), readers never see a torn
    state. The operational fix for the small-files problem a streaming
    or bucket-granular writer accumulates at 10^12 rows: Spark schedules
    one task per tiny file, and NameNode/manifest metadata grows
    unboundedly, unless something rewrites.

    Returns {"snapshot", "rewritten", "kept"} (rewritten = small files
    replaced; snapshot = 0 means nothing to do)."""
    cur = table.current_snapshot_id()
    files = table.files(snapshot=cur)
    small = [f for f in files if os.path.getsize(f.path) < small_bytes]
    keep = [f for f in files if os.path.getsize(f.path) >= small_bytes]
    if len(small) <= 1:
        return {"snapshot": 0, "rewritten": 0, "kept": len(files)}
    merged = spark.read.parquet(*[f.path for f in small]).coalesce(
        max(1, target_files)
    )
    new_files = table._write_data(merged, stats_cols)
    snap = table._commit(keep + new_files, cur)
    return {"snapshot": snap, "rewritten": len(small), "kept": len(keep)}


def expire_snapshots(table: ManifestTable, keep_last: int = 2) -> dict:
    """Garbage-collect: drop manifests older than the last ``keep_last``
    snapshots and delete data files no surviving snapshot references.
    The current snapshot is always kept. Files are deleted only when
    UNREACHABLE from every kept manifest — compaction's rewritten
    originals become collectible once their last referencing snapshot
    expires, never before."""
    cur = table.current_snapshot_id()
    if cur == 0:
        return {"expired": 0, "deleted_files": 0}
    kept_snaps = [s for s in range(max(1, cur - keep_last + 1), cur + 1)]
    expired = [s for s in range(1, cur + 1) if s not in kept_snaps]
    live: set[str] = set()
    for s in kept_snaps:
        live.update(f.path for f in table._read_manifest(s))
    dead: set[str] = set()
    for s in expired:
        dead.update(
            f.path for f in table._read_manifest(s) if f.path not in live
        )
    for p in dead:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass
    for s in expired:
        try:
            os.remove(table._manifest_path(s))
        except FileNotFoundError:
            pass
    # reclaim inert tmp files from killed/losing writers; the age gate
    # keeps a LIVE writer's about-to-be-linked tmp out of reach (a link
    # source removed pre-link just fails that commit loudly, but an hour
    # of slack makes even that unreachable in practice)
    mdir = os.path.join(table.root, "manifests")
    import time

    for name in os.listdir(mdir):
        if name.endswith(".tmp"):
            p = os.path.join(mdir, name)
            try:
                if time.time() - os.path.getmtime(p) > 3600:
                    os.remove(p)
            except FileNotFoundError:
                pass
    return {"expired": len(expired), "deleted_files": len(dead)}


def stream_to_table(
    stream_df: DataFrame,
    table: ManifestTable,
    query_name: str = "manifest_sink",
    stats_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming ingestion with atomic snapshots: every micro-batch
    commits one table append via ``foreachBatch``, EXACTLY ONCE — the
    batch's epoch id rides INSIDE the manifest document, so epoch and
    data commit in the same atomic manifest publish: a writer killed at any
    point either committed the whole batch (epoch visible -> replay
    skipped) or none of it (orphaned data files, invisible). Structured
    Streaming's foreachBatch is at-least-once after restarts; the
    epoch-id check upgrades this sink to exactly-once. Every micro-batch
    becomes a time-travelable snapshot.

    Epoch ids are only comparable WITHIN one query lifetime: a restart
    from a new (or no) checkpoint resets them to 0, so a bare
    ``epoch <= last`` check would silently drop every batch of a
    subsequent ingestion run as a "replay". The manifest therefore
    records a ``run_id`` next to the epoch — the checkpoint path when
    one is given (replays can only originate from the same checkpoint),
    else a fresh uuid — and a batch is skipped only when BOTH match.

    Returns the started StreamingQuery (caller awaits/stops)."""
    run_id = (
        os.path.abspath(checkpoint_dir) if checkpoint_dir else uuid.uuid4().hex
    )

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        last = last_committed_epoch(table, run_id=run_id)
        if last is not None and epoch_id <= last:
            return  # replayed batch of THIS run: already committed atomically
        table.append(
            batch_df,
            stats_cols,
            extra={"epoch_id": int(epoch_id), "run_id": run_id},
        )

    writer = stream_df.writeStream.queryName(query_name).foreachBatch(commit)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def last_committed_epoch(
    table: ManifestTable, run_id: str | None = None
) -> int | None:
    """Newest epoch_id on the current snapshot chain (walks parents past
    non-streaming commits; stops at expired manifests — after an
    expire_snapshots pass older epochs are unreplayable anyway).

    With ``run_id``, only manifests committed by that query lifetime
    count — epoch ids from other runs (which restart at 0) must not
    shadow this run's replay detection."""
    snap = table.current_snapshot_id()
    while snap > 0:
        try:
            with open(table._manifest_path(snap)) as f:
                doc = json.load(f)
        except FileNotFoundError:
            return None
        if "epoch_id" in doc and (
            run_id is None or doc.get("run_id") == run_id
        ):
            return int(doc["epoch_id"])
        snap = int(doc.get("parent_id", 0))
    return None
