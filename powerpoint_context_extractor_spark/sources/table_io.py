"""Iceberg-emulated snapshot tables: Parquet data + ``_snapshots.jsonl``.

The reference has no checkpointing — reruns redo everything
(`pptx_extract.py:184-191` only re-filters). At 10^12-doc scale resume
is mandatory, so this module provides the Iceberg-style contract the
north_rule asks for — atomic snapshot commit, snapshot-isolated reads,
resume via anti-join against committed keys — behind one seam, so a
real Iceberg catalog is a config swap (same append/read/committed-keys
API; no jars are available in this sandbox, SURVEY.md §7).

Commit protocol (write-data-then-manifest-append), one path for every
snapshot:
  1. ``_write`` writes the batch to ``<root>/snap-<uuid>/`` with one of
     three writers: Spark's parquet writer for a DataFrame, the driver
     for a small ``pyarrow.Table``, or the Spark tasks themselves for a
     ``TaskWrite`` (each task writes its own file and reports it back).
     The last two share one pyarrow writer config, ``parquet_writer``.
     It then builds the manifest entry {snapshot_id, run_id, files,
     row_count, schema, [replaces,] committed_at} from the written file
     list and the parquet footers.
  2. ``_commit`` appends that entry to ``_snapshots.jsonl`` as one JSON
     line with a single O_APPEND write.
Readers union only manifest-listed files, so half-written directories
are invisible (snapshot isolation). The append-log commit is O(1) in
snapshot count (r2 VERDICT: the old whole-file rewrite was O(n^2) over
commits and raced under concurrent committers — a single O_APPEND
write of one line neither rereads nor clobbers other writers' entries;
on a real object store this seam is where the Iceberg catalog's
optimistic-swap goes).

Replace-commits (``compact``, ``merge``) read the manifest once, rewrite
exactly the snapshots of that read and list exactly their ids in
``replaces``. They run under one maintenance lock (``_compact.lock``,
owner token plus heartbeat). One replay, ``_replay``, turns manifest
entries into live snapshots for current and time-travel reads.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone
from itertools import takewhile
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST = "_snapshots.jsonl"


def parquet_writer(path: str, schema, stats_skip=()):
    """A ``pyarrow.parquet.ParquetWriter`` with the one config of every
    snapshot file not written by Spark: zstd at level 3 (parquet-mr's
    level), no dictionary pages, no embedded Arrow schema, and
    statistics only on the top-level scalar columns not named in
    ``stats_skip``. Dictionary pages are off because the extracted
    url/text/spans columns are unique per row: the dictionary always
    overflows and falls back, which cost ~11% of the write wall for no
    size win (OPTIMIZATION_r08.md). Free-text columns go in
    ``stats_skip``: their min/max never prunes a file, and
    ``_pruned_files`` keeps files that have no stats."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    return pq.ParquetWriter(
        path, schema, compression="zstd", compression_level=3,
        use_dictionary=False, store_schema=False,
        write_statistics=[f.name for f in schema
                          if not pa.types.is_nested(f.type)
                          and f.name not in stats_skip])


class TaskWrite(NamedTuple):
    """A snapshot whose parquet files the Spark tasks write themselves.
    ``run(out_dir)`` runs the job, whose tasks each write at most one
    file into ``out_dir``, and returns the paths of the files the job's
    successful task attempts reported. ``schema`` is the ``StructType``
    those files carry. ``out_dir`` must be reachable at the same path
    from the driver and every Python worker: that holds in local mode
    and on a shared filesystem, as every ``os.*`` call here needs."""
    schema: T.StructType
    run: Callable[[str], list]


def _footer_row_count(files: list) -> int:
    """Sum of parquet-footer num_rows — metadata-only, no data pages
    touched (the Iceberg-manifest analog of per-file record counts)."""
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _replay(entries) -> list:
    """LIVE snapshots after replaying manifest ``entries`` in commit
    order: a replace-commit supersedes the snapshot ids it lists in
    ``replaces`` (the Iceberg rewrite-files/replace-commit analog)."""
    live: dict = {}
    for e in entries:
        for rid in e.get("replaces", ()):
            live.pop(rid, None)
        live[e["snapshot_id"]] = e
    return list(live.values())


def _files(snaps) -> list:
    return [f for s in snaps for f in s["files"]]


def _read(spark: SparkSession, files: list) -> DataFrame | None:
    return spark.read.parquet(*files) if files else None


class SnapshotTable:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def _entries(self) -> list:
        """Raw manifest entries in commit order (compactions included).

        A torn TRAILING line (crash mid-append) is tolerated and
        skipped — the half-committed snapshot simply never happened,
        which is the write-data-then-manifest protocol's crash
        semantics. A malformed line ANYWHERE ELSE is real corruption
        and still raises (ADVICE r3)."""
        try:
            with open(self._manifest_path, encoding="utf-8") as f:
                lines = [ln for ln in f if ln.strip()]
        except FileNotFoundError:
            return []
        entries = []
        for i, line in enumerate(lines):
            try:
                entries.append(json.loads(line))
            except json.JSONDecodeError:
                if i == len(lines) - 1:
                    break             # torn final line: not committed
                raise
        return entries

    def snapshots(self) -> list:
        """LIVE snapshots (``_replay`` of the whole manifest). Readers
        that captured file lists before a compaction keep reading the
        old files untouched — snapshot isolation holds; ``vacuum()`` is
        the separate, explicitly-invoked destructive step."""
        return _replay(self._entries())

    def _commit(self, entry: dict) -> None:
        """O(1) in snapshot count: one O_APPEND write of one JSON line.
        A single write() of a short line is atomic on POSIX local
        filesystems, so concurrent committers interleave whole lines,
        never bytes (pinned by tests/test_plans.py concurrency test).

        Durability: a process killed before or during this write leaves
        an unlisted snap dir (invisible to readers and to resume,
        reclaimed by ``vacuum()``) or a torn final line (skipped by
        ``_entries``); tests/test_pipeline.py pins the failed-commit
        case. Power loss is not covered: neither the data files nor
        this manifest line is fsynced, so a crash of the host can lose
        a commit that already returned. No fsync is added here."""
        line = json.dumps(entry, separators=(",", ":")) + "\n"
        buf = line.encode("utf-8")
        fd = os.open(self._manifest_path,
                     os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            # loop on short writes (ADVICE r3); O_APPEND keeps each
            # os.write atomic w.r.t. other appenders, and _entries()
            # tolerates the torn final line a crash mid-loop leaves
            while buf:
                n = os.write(fd, buf)
                buf = buf[n:]
        finally:
            os.close(fd)

    def data_files(self) -> list:
        return _files(self.snapshots())

    # -- schema evolution (r6: the Iceberg add-column/widen analog) ----
    #: type changes an append may make to an existing column, old ->
    #: new (Iceberg's promotion rules: integers widen, float widens to
    #: double — never the lossy direction)
    _WIDENINGS = {("tinyint", "smallint"), ("tinyint", "int"),
                  ("tinyint", "bigint"), ("smallint", "int"),
                  ("smallint", "bigint"), ("int", "bigint"),
                  ("float", "double")}

    def table_schema(self) -> list | None:
        """Current schema = the LATEST live snapshot's recorded
        (name, simple type) pairs (adds and widenings land by
        appending; a column absent from the newest snapshot is dropped
        from evolved reads)."""
        snaps = self.snapshots()
        return [tuple(c) for c in snaps[-1]["schema"]] if snaps else None

    def _check_evolution(self, cur: list | None, new: list) -> None:
        if cur is None:
            return
        cur_types = dict(cur)
        for name, t in new:
            old = cur_types.get(name)
            if old is None or old == t:
                continue
            if (old, t) in self._WIDENINGS:
                continue          # widening: reads cast old data up
            raise ValueError(
                f"schema evolution: column {name!r} cannot change "
                f"{old} -> {t} (only additive changes and integer/"
                "float widenings are allowed)")

    def read_evolved(self, spark: SparkSession,
                     snaps: list | None = None) -> DataFrame | None:
        """Read ``snaps`` (default: the live snapshots) across schema
        versions: project every snapshot to the latest one's schema —
        missing columns become typed NULLs, widened columns cast up,
        dropped columns are omitted. Snapshots are grouped by schema so
        the scan count is O(#distinct schemas) (a handful, ever), not
        O(#snapshots); each group is a plain multi-file parquet read
        with pushdown intact — no mergeSchema footer sampling."""
        snaps = self.snapshots() if snaps is None else snaps
        if not _files(snaps):
            return None
        latest = snaps[-1]["schema"]
        groups: dict = {}
        for s in snaps:
            if s["files"]:
                key = tuple(map(tuple, s["schema"]))
                groups.setdefault(key, []).extend(s["files"])
        out = None
        for key, files in groups.items():
            have = {n for n, _ in key}
            proj = spark.read.parquet(*files).select(
                *[(F.col(n).cast(t) if n in have
                   else F.lit(None).cast(t)).alias(n)
                  for n, t in latest])
            out = proj if out is None else out.unionByName(proj)
        return out

    # -- IO --------------------------------------------------------------
    def _write(self, df, run_id: str, replaces: list | None = None) -> dict:
        """Write ``df`` as a new, not yet committed snapshot dir and
        return its manifest entry. A Spark DataFrame is distributed
        data and gets a Spark write; a ``pyarrow.Table`` is small
        driver-side data (e.g. one row per partition) and is written by
        the driver as one parquet file, with no Spark job; a
        ``TaskWrite`` runs its job, and the entry lists exactly the
        files the job reports, never a listing of the dir, so a failed
        or speculative attempt's file is never committed. A
        ``TaskWrite`` that reports no file commits a snapshot with no
        files and ``row_count`` 0. ``replaces`` makes the entry a
        replace-commit."""
        import pyarrow as pa
        if isinstance(df, pa.Table):
            from pyspark.sql.pandas.types import from_arrow_schema
            fields = from_arrow_schema(df.schema).fields
        else:
            fields = df.schema.fields
        schema = [[f.name, f.dataType.simpleString()] for f in fields]
        self._check_evolution(self.table_schema(), schema)
        snap_id = uuid.uuid4().hex
        out_dir = os.path.join(self.root, f"snap-{snap_id}")
        if isinstance(df, DataFrame):
            df.write.mode("error").parquet(out_dir)
            files = sorted(
                os.path.join(out_dir, f) for f in os.listdir(out_dir)
                if f.endswith(".parquet"))
        else:
            os.makedirs(out_dir)
            if isinstance(df, TaskWrite):
                files = sorted(df.run(out_dir))
            else:
                files = [os.path.join(out_dir, "part-00000.parquet")]
                with parquet_writer(files[0], df.schema) as w:
                    w.write_table(df)
        # O(metadata) commit: row counts come from the parquet footers
        # (what a real Iceberg manifest records), NOT a second Spark
        # scan of the just-written data — at 100 TB a count() here
        # re-reads every committed batch.
        entry = {"snapshot_id": snap_id, "run_id": run_id, "files": files,
                 "row_count": _footer_row_count(files), "schema": schema}
        if replaces is not None:
            entry["replaces"] = replaces
        entry["committed_at"] = datetime.now(timezone.utc).isoformat()
        return entry

    def append(self, df, run_id: str) -> dict:
        """Commit ``df`` (a Spark DataFrame, a ``pyarrow.Table`` or a
        ``TaskWrite``, see ``_write``) as one new snapshot."""
        entry = self._write(df, run_id)
        self._commit(entry)
        return entry

    def without_committed(self, df: DataFrame, key_col: str) -> DataFrame:
        """``df`` minus the rows whose ``key_col`` is already committed:
        the resume anti-join (U3) that makes reruns and replayed
        micro-batches exactly-once."""
        done = self.committed_keys(df.sparkSession, key_col)
        return df if done is None else df.join(done, key_col, "left_anti")

    # -- replace-commits (compaction, merge) ------------------------------
    def _acquire_compact_lock(self, stale_lock_s: float) -> tuple:
        """O_CREAT|O_EXCL lock file enforcing single-maintainer mutual
        exclusion (r4 VERDICT #8). A lock older than ``stale_lock_s``
        (a crashed maintainer — its rewrite dir is garbage that vacuum
        ignores, its replace-commit never happened) is broken via
        ``os.replace`` to a unique name, so exactly one of N takeover
        racers wins the rename and re-acquisition stays race-free.
        The first line of the lock file is a per-acquisition OWNER
        TOKEN (r4 ADVICE #1), checked by ``_maintenance_lock``.
        Returns (lock_path, owner_token)."""
        lock = os.path.join(self.root, "_compact.lock")
        token = uuid.uuid4().hex

        def _try() -> bool:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                             0o644)
            except FileExistsError:
                return False
            os.write(fd,
                     f"{token} {os.getpid()} {time.time()}\n".encode("utf-8"))
            os.close(fd)
            return True

        if not _try():
            try:
                age = time.time() - os.path.getmtime(lock)
            except OSError:
                age = 0.0                 # holder just released; retry
            if age > stale_lock_s:
                stale = f"{lock}.stale-{uuid.uuid4().hex}"
                try:
                    os.replace(lock, stale)   # one takeover racer wins
                    os.unlink(stale)
                except FileNotFoundError:
                    pass                      # lost the takeover race
            if not _try():
                raise RuntimeError(
                    f"concurrent compaction: {lock} is held (age "
                    f"{age:.0f}s); compaction must run as a single "
                    f"maintenance job")
        return lock, token

    @contextmanager
    def _maintenance_lock(self, stale_lock_s: float):
        """Hold ``_compact.lock`` for one replace-commit; yields the
        ``commit(entry)`` to use instead of ``_commit``.

        A heartbeat thread refreshes the lock's mtime so a LIVE
        maintainer running longer than ``stale_lock_s`` (plausible at
        the 100 TB scale this targets) never looks crashed. Belt over
        braces, the owner token is verified right before the
        replace-commit and before the final unlink (r4 ADVICE #1): a
        maintainer that lost the lock anyway (e.g. across a
        multi-minute VM pause) aborts instead of double-committing —
        its rewrite dir is unreferenced garbage that vacuum ignores —
        and never deletes the new holder's lock."""
        lock, token = self._acquire_compact_lock(stale_lock_s)

        def owned() -> bool:
            try:
                with open(lock, encoding="utf-8") as f:
                    return f.readline().split()[0] == token
            except (OSError, IndexError):
                return False

        stop = threading.Event()
        beat_s = max(min(stale_lock_s / 4.0, 60.0), 0.05)

        def heartbeat() -> None:
            while not stop.wait(beat_s) and owned():
                try:
                    os.utime(lock)
                except OSError:
                    return

        def commit(entry: dict) -> None:
            if not owned():
                raise RuntimeError(
                    f"lost {lock} ownership before commit; aborting "
                    "replace-commit (another maintainer took over)")
            self._commit(entry)

        beat = threading.Thread(target=heartbeat, daemon=True,
                                name="pcx-compact-heartbeat")
        beat.start()
        try:
            yield commit
        finally:
            stop.set()
            beat.join(timeout=5.0)
            if owned():
                try:
                    os.unlink(lock)
                except FileNotFoundError:
                    pass

    def compact(self, spark: SparkSession, run_id: str = "compact",
                key_col: str | None = None,
                order_col: str | None = None,
                stale_lock_s: float = 3600.0) -> dict | None:
        """Rewrite all currently-live snapshots into ONE new snapshot
        and commit it with a ``replaces`` list (a single O_APPEND line,
        like every other commit). Without keys this is pure small-file
        compaction; with ``key_col``+``order_col`` it also keeps only
        the newest row per key (row_number over order_col DESC) — the
        upsert-table compaction an update-mode streaming sink needs so
        the table stops growing one row per (key, epoch).

        Concurrent appends are safe: the rewrite reads exactly the
        snapshots of one manifest read and replaces exactly those, so
        an append racing past that read stays live, once. Concurrent
        COMPACTIONS (and merges) are excluded by ``_maintenance_lock``
        (r4 VERDICT #8): a second maintainer raises instead of
        double-committing a full rewrite; a crashed one's lock goes
        stale after ``stale_lock_s`` and is broken race-free. On a real
        Iceberg catalog this seam is the optimistic-swap conflict the
        catalog rejects."""
        with self._maintenance_lock(stale_lock_s) as commit:
            entry = self._compact_locked(spark, run_id, key_col, order_col)
            if entry is not None:
                commit(entry)
            return entry

    def _compact_locked(self, spark: SparkSession, run_id: str,
                        key_col: str | None,
                        order_col: str | None) -> dict | None:
        snaps = self.snapshots()
        # evolved read: compaction across schema versions projects to
        # the latest schema instead of trusting one footer's layout
        df = self.read_evolved(spark, snaps)
        if df is None:
            return None
        if key_col is not None:
            from pyspark.sql import Window as W
            if order_col is None:
                raise ValueError("key_col compaction needs order_col")
            rn = F.row_number().over(
                W.partitionBy(key_col).orderBy(F.col(order_col).desc()))
            df = (df.withColumn("_rn", rn).filter(F.col("_rn") == 1)
                  .drop("_rn"))
        return self._write(df, run_id,
                           replaces=[s["snapshot_id"] for s in snaps])

    def _validate_optimistic(self, expected_ids: set) -> None:
        """Optimistic-concurrency validation before a replace-commit
        (the Iceberg validate-added-snapshots analog, r6 ADVICE):
        re-read the manifest and abort if live snapshots exist that
        the pending commit's ``replaces`` list does not cover — e.g.
        an ``append()`` that committed mid-merge. Aborting leaves the
        rewrite dir unreferenced (vacuum-ignorable garbage); the
        caller reruns against the new table state."""
        live = {s["snapshot_id"] for s in self.snapshots()}
        extra = live - expected_ids
        if extra:
            raise RuntimeError(
                f"optimistic-concurrency conflict: {len(extra)} "
                "snapshot(s) committed concurrently (append takes no "
                "lock); aborting replace-commit — rerun against the "
                "new table state")

    def merge(self, spark: SparkSession, source: DataFrame,
              key_col: str, delete_col: str | None = None,
              stale_lock_s: float = 600.0) -> dict | None:
        """Keyed upsert — the Iceberg/Delta ``MERGE INTO`` analog:
        matched target rows are replaced by their source row,
        unmatched source rows insert, and source rows with
        ``delete_col`` true delete their key. Copy-on-write via ONE
        replace-commit: surviving target rows (left_anti on the
        source keys) union the non-delete source rows and replace the
        snapshots of one manifest read atomically — time travel still
        reads the pre-merge snapshots, and the commit serializes with
        compactions through the same ``_maintenance_lock``.

        Concurrent ``append()`` (which by design never takes the
        maintenance lock) is handled with Iceberg-style OPTIMISTIC
        CONCURRENCY (r6 ADVICE): the manifest is re-read immediately
        before the replace-commit, and if any snapshot appeared that
        the merge's ``replaces`` list does not cover, the merge
        ABORTS (its rewrite dir is unreferenced garbage vacuum
        ignores) — callers rerun the merge against the new state.
        Without this check the late append's rows would survive
        beside the merged snapshot and could duplicate merged keys.

        The source must be unique per key (a key that both updates
        and deletes is ambiguous) — enforced with one small
        aggregation over the source before any write.

        Scale note: copy-on-write rewrites the table; a partitioned
        deployment rewrites only touched partitions — the anti-join +
        union plan is identical per partition."""
        dupes = (source.groupBy(key_col).count()
                 .filter(F.col("count") > 1).limit(1).count())
        if dupes:
            raise ValueError(
                f"merge: source has duplicate {key_col} keys")
        inserts = source
        if delete_col is not None:
            inserts = (source.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False)))
                .drop(delete_col))
        with self._maintenance_lock(stale_lock_s) as commit:
            snaps = self.snapshots()
            cur = self.read_evolved(spark, snaps)
            out = inserts if cur is None else (
                cur.join(source.select(key_col), key_col, "left_anti")
                .unionByName(inserts))
            replaced = [s["snapshot_id"] for s in snaps]
            entry = self._write(out, "merge", replaces=replaced)
            self._validate_optimistic(set(replaced))
            commit(entry)
            return entry

    def vacuum(self) -> list:
        """Delete snap dirs no longer referenced by any live snapshot
        (replaced by a compaction, or never committed), and the parquet
        files a live snapshot does not list inside its own dir (a
        failed or speculative task attempt's file). Explicit and
        separate from compact() so in-flight readers of pre-compaction
        file lists get a grace window the caller controls. Returns
        removed dirs and files."""
        import shutil
        live = set(self.data_files())
        live_dirs = {os.path.dirname(f) for f in live}
        removed = []
        for name in os.listdir(self.root):
            path = os.path.join(self.root, name)
            if not (name.startswith("snap-") and os.path.isdir(path)):
                continue
            if path not in live_dirs:
                shutil.rmtree(path)
                removed.append(path)
                continue
            for f in sorted(os.listdir(path)):
                stray = os.path.join(path, f)
                if f.endswith(".parquet") and stray not in live:
                    os.remove(stray)
                    removed.append(stray)
        return removed

    # -- reads -----------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame | None:
        return _read(spark, self.data_files())

    # -- time travel (r6: the Iceberg snapshot-as-of read analog) -------
    def snapshots_at(self, snapshot_id: str | None = None,
                     as_of_ts: str | None = None) -> list:
        """LIVE snapshots as of a historical point: replay the
        append-log only up to (and including) ``snapshot_id``, or up
        to the first entry with ``committed_at > as_of_ts`` (ISO
        string; manifest timestamps are UTC ISO so plain string
        comparison is chronological). Compactions after the cut
        simply haven't happened yet in the replay, so the pre-compact
        file lists come back exactly as a reader at that time saw
        them — O(manifest), no data touched."""
        if (snapshot_id is None) == (as_of_ts is None):
            raise ValueError(
                "time travel: pass exactly one of snapshot_id / as_of_ts")
        entries = self._entries()
        if as_of_ts is not None:
            return _replay(takewhile(
                lambda e: e["committed_at"] <= as_of_ts, entries))
        ids = [e["snapshot_id"] for e in entries]
        if snapshot_id not in ids:
            raise ValueError(
                f"time travel: unknown snapshot_id {snapshot_id!r}")
        return _replay(entries[:ids.index(snapshot_id) + 1])

    def read_at(self, spark: SparkSession,
                snapshot_id: str | None = None,
                as_of_ts: str | None = None) -> DataFrame | None:
        """Read the table as of a snapshot id or timestamp. Raises if
        the historical files were already vacuumed (snapshot isolation
        holds until vacuum — the explicit destructive step — exactly
        like expiring snapshots in Iceberg)."""
        files = _files(self.snapshots_at(snapshot_id=snapshot_id,
                                         as_of_ts=as_of_ts))
        gone = [f for f in files if not os.path.exists(f)]
        if gone:
            raise ValueError(
                "time travel: target snapshot's files were vacuumed: "
                + gone[0])
        return _read(spark, files)

    def committed_keys(self, spark: SparkSession, key_col: str) -> DataFrame | None:
        """Column-pruned scan of just the key column across committed
        snapshots — the probe side of the resume anti-join (U3). The
        read schema comes from the manifest (``table_schema``), so no
        schema-inference job runs; the whole schema is given and then
        pruned, so the scan's size estimate, and with it the join
        strategy, is the same as for an inferred read."""
        files = self.data_files()
        if not files:
            return None
        ddl = ", ".join(f"`{n}` {t}" for n, t in self.table_schema())
        return spark.read.schema(ddl).parquet(*files).select(key_col)

    def _pruned_files(self, col: str, lo, hi) -> tuple:
        """(surviving files, skipped count) for a [lo, hi] range
        predicate on ``col`` using footer stats only — the
        manifest-level file-skip every table format performs before
        any scan. Files without stats survive (never skip blind)."""
        keep = []
        skipped = 0
        for f in self.data_files():
            rng = _footer_minmax(f, col)
            if rng is None or (rng[1] >= lo and rng[0] <= hi):
                keep.append(f)
            else:
                skipped += 1
        return keep, skipped

    def read_pruned(self, spark: SparkSession, col: str, lo, hi):
        """Range read with manifest-stats file skipping (r7): only files
        whose footer [min, max] intersects [lo, hi] are scanned; the
        residual filter still applies (stats prune FILES, not rows).
        Returns None for an empty table or fully-pruned range."""
        df = _read(spark, self._pruned_files(col, lo, hi)[0])
        if df is None:
            return None
        return df.filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))

    def read_changes(self, spark: SparkSession, since_snapshot_id: str):
        """Incremental (CDC-style) read: the rows committed strictly
        AFTER ``since_snapshot_id`` in manifest order (r7 — the
        incremental-pipeline primitive: consumers checkpoint a snapshot
        id and read only what landed since). Requires the post-anchor
        history to be APPEND-ONLY — a replace commit (compaction/merge)
        rewrites old rows and would make 'new rows since' ambiguous, so
        it raises instead of silently double-counting. Returns None
        when nothing landed since."""
        entries = self._entries()
        ids = [e["snapshot_id"] for e in entries]
        if since_snapshot_id not in ids:
            raise ValueError(
                f"read_changes: unknown snapshot {since_snapshot_id!r}")
        later = entries[ids.index(since_snapshot_id) + 1:]
        if any(e.get("replaces") for e in later):
            raise ValueError(
                "read_changes: a replace commit (compaction/merge) exists "
                "after the anchor snapshot; incremental semantics need an "
                "append-only suffix — re-anchor past the replace")
        return _read(spark, _files(later))


def _footer_minmax(path: str, col: str):
    """Column min/max from the parquet footer — metadata only, no
    data pages (the Iceberg manifest column-stats analog). Returns
    None when any row group lacks stats (then the file cannot be
    skipped safely)."""
    import pyarrow.parquet as pq
    md = pq.ParquetFile(path).metadata
    idx = None
    for i in range(md.num_columns):
        if md.schema.column(i).name == col:
            idx = i
            break
    if idx is None:
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return (lo, hi) if lo is not None else None
