"""Physical-plan audits: the plans we'd want at 100 TB, asserted.

These freeze the Catalyst behaviors the engine relies on (SURVEY.md §4):
filters reach the parquet scan, small dims broadcast, the extraction
path has no Exchange, columns prune to the kernel projection.
"""

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def zorder_write(df, path: str, cols: list, bits: int = 16,
                 n_files: int = 8) -> None:
    """Write ``df`` clustered on ``layout.zorder_key`` of ``cols``:
    range-partition by the key and sort within partitions, so every
    output file covers a small hyper-rectangle of the key space. The
    key column itself is dropped from the output."""
    from powerpoint_context_extractor_spark.operators import layout
    keyed = df.withColumn("_zkey", layout.zorder_key(cols, bits))
    (keyed.repartitionByRange(n_files, "_zkey")
     .sortWithinPartitions("_zkey")
     .drop("_zkey")
     .write.mode("overwrite").parquet(path))


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_filter_pushdown_reaches_scan(spark, sf):
    l = spark.read.parquet(f"{sf}/lineitem.parquet")  # noqa: E741
    q = l.filter(F.col("l_linenumber").isin(1, 3)).select("l_orderkey")
    plan = _plan(q)
    assert "PushedFilters" in plan and "l_linenumber" in plan.split(
        "PushedFilters")[1][:200]


def test_column_pruning_reaches_scan(spark, sf):
    l = spark.read.parquet(f"{sf}/lineitem.parquet")  # noqa: E741
    q = l.select("l_orderkey", "l_quantity")
    m = re.search(r"ReadSchema: ([^\n]+)", _plan(q))
    assert m and "l_extendedprice" not in m.group(1)
    assert "l_orderkey" in m.group(1)


def test_dim_chain_goes_broadcast(spark, sf):
    import __spark_entry__ as entry_mod
    q = entry_mod.queries()["j3_broadcast_dim_chain"](spark, sf)
    plan = _plan(q)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_extract_path_has_no_shuffle(spark, sf):
    """Map-only contract: extraction without explicit repartition must
    contain no Exchange (the 100 TB invariant — payloads never shuffle)."""
    from powerpoint_context_extractor_spark.operators.extract import (
        extract_pages,
    )
    pages = spark.createDataFrame(
        [("u", bytearray(b"<p>x</p>"), "f")], "url string, html binary, text string")
    plan = _plan(extract_pages(pages))
    assert "Exchange" not in plan
    low = plan.lower()
    assert "mapinarrow" in low or "mapinpandas" in low


def test_whole_stage_codegen_on_relational_path(spark, sf):
    l = spark.read.parquet(f"{sf}/lineitem.parquet")  # noqa: E741
    q = (l.groupBy("l_returnflag")
         .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
              .alias("c")))
    q.collect()  # AQE only materializes codegen spans in the FINAL plan
    # Spark 4 marks whole-stage-codegen stages with '*(n)' in the plan
    assert "*(1)" in _plan(q)


def test_bucketed_join_is_shuffle_free(spark, sf, tmp_path):
    """Bucketing co-locates join keys at write time so the join needs
    no Exchange (the 100 TB repeated-join pattern: pay the shuffle once
    at ingest, never again)."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_quantity")
    od = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS od_b")
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
       .sortBy("l_orderkey").saveAsTable("li_b"))
    (od.write.mode("overwrite").bucketBy(8, "o_orderkey")
       .sortBy("o_orderkey").saveAsTable("od_b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (spark.table("li_b")
             .join(spark.table("od_b"),
                   F.col("l_orderkey") == F.col("o_orderkey")))
        plan = _plan(j)
        assert "Exchange" not in plan      # co-located: no shuffle
        assert "SortMergeJoin" in plan
        # and it computes the right thing
        n = j.count()
        plain = li.join(od, li.l_orderkey == od.o_orderkey).count()
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS od_b")


def test_salted_agg_is_two_stage(spark, sf):
    from powerpoint_context_extractor_spark.operators.textstats import (
        host_stats_salted,
    )
    ev = spark.read.parquet(f"{sf}/events.parquet")
    plan = _plan(host_stats_salted(ev))
    # two HashAggregate pairs (partial+final per stage)
    assert plan.count("HashAggregate") >= 4


def test_manifest_commit_is_o1_and_concurrent_safe(tmp_path):
    """r3 VERDICT #8: commits append one line (never re-reading the
    manifest) and concurrent committers lose no entries."""
    import json
    import multiprocessing as mp
    from unittest import mock

    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    root = str(tmp_path / "t")
    table = SnapshotTable(root)
    entry = {"snapshot_id": "x", "run_id": "r", "files": [], "row_count": 0,
             "committed_at": "now"}
    # O(1): _commit must not call snapshots() (no read-modify-write)
    with mock.patch.object(SnapshotTable, "snapshots",
                           side_effect=AssertionError("commit read manifest")):
        for i in range(5):
            table._commit({**entry, "snapshot_id": f"s{i}"})
    assert len(table.snapshots()) == 5

    def worker(k):
        t = SnapshotTable(root)
        for i in range(50):
            t._commit({**entry, "snapshot_id": f"w{k}-{i}"})

    procs = [mp.Process(target=worker, args=(k,)) for k in range(8)]
    [p.start() for p in procs]
    [p.join() for p in procs]
    snaps = table.snapshots()
    ids = [s["snapshot_id"] for s in snaps]
    assert len(ids) == 5 + 8 * 50
    assert len(set(ids)) == len(ids)        # no torn/duplicated lines
    with open(table._manifest_path, encoding="utf-8") as f:
        for line in f:
            json.loads(line)                 # every line parses


def test_compaction_replaces_snapshots_and_vacuum_reclaims(spark, tmp_path):
    """compact() folds all live snapshots into one (keyed: newest row
    per key), supersedes them via a single append-log line, and
    vacuum() reclaims only the replaced dirs."""
    import os

    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    table = SnapshotTable(str(tmp_path / "t"))
    for epoch in range(3):
        table.append(spark.createDataFrame(
            [(u, epoch, u * 10 + epoch) for u in range(4)],
            "user_id long, epoch long, val long"), run_id=f"e{epoch}")
    assert len(table.snapshots()) == 3
    assert table.read(spark).count() == 12
    entry = table.compact(spark, key_col="user_id", order_col="epoch")
    live = table.snapshots()
    assert [s["snapshot_id"] for s in live] == [entry["snapshot_id"]]
    rows = {r["user_id"]: (r["epoch"], r["val"])
            for r in table.read(spark).collect()}
    assert rows == {u: (2, u * 10 + 2) for u in range(4)}
    # append after compaction stays live alongside it
    table.append(spark.createDataFrame([(9, 9, 99)],
                                       "user_id long, epoch long, val long"),
                 run_id="late")
    assert table.read(spark).count() == 5
    n_dirs = len([d for d in os.listdir(table.root)
                  if d.startswith("snap-")])
    removed = table.vacuum()
    assert len(removed) == 3 and len([
        d for d in os.listdir(table.root)
        if d.startswith("snap-")]) == n_dirs - 3
    assert table.read(spark).count() == 5  # live data untouched


def test_bucketed_join_and_agg_have_zero_exchanges(spark):
    """r4: two tables persisted bucketBy(8, user_id) + sortBy join AND
    group on the bucket key with NO Exchange anywhere in the physical
    plan — the pay-the-shuffle-once-at-write-time pattern for repeated
    big-big joins at 100 TB. Results equal the unbucketed join."""
    from pyspark.sql import functions as F

    from powerpoint_context_extractor_spark.operators.joins import (
        bucketed_join, write_bucketed,
    )
    ev = spark.createDataFrame(
        [(i % 13, i) for i in range(400)], "user_id long, cents long")
    prof = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    write_bucketed(ev, "pcx_test_bx_ev", "user_id", 8)
    write_bucketed(prof, "pcx_test_bx_prof", "user_id", 8)
    # disable broadcast so the SORT-MERGE path must run — only the
    # persisted bucket layout can make it exchange-free
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = (bucketed_join(spark, "pcx_test_bx_ev", "pcx_test_bx_prof",
                             "user_id")
               .groupBy("user_id", "n_events")
               .agg(F.sum("cents").alias("sum_cents")))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # no SHUFFLE exchange anywhere (BroadcastExchange would be fine,
        # but the threshold above rules it out too)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Exchange rangepartitioning" not in plan, plan
        assert "BroadcastExchange" not in plan, plan
        got = {(r["user_id"], r["n_events"], r["sum_cents"])
               for r in out.collect()}
        want = {(r["user_id"], r["n_events"], r["sum_cents"]) for r in
                ev.join(prof, "user_id").groupBy("user_id", "n_events")
                .agg(F.sum("cents").alias("sum_cents")).collect()}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_write_bucketed_rejects_qualified_names_and_rewrites(spark):
    """r4 ADVICE #5: the stale-location cleanup assumed an unqualified
    name in a local warehouse — qualified names are now rejected
    outright, and a re-write over an existing catalogued table resolves
    its location from the catalog (works, no stale-dir failure)."""
    import pytest as _pytest

    from powerpoint_context_extractor_spark.operators.joins import (
        write_bucketed,
    )
    df = spark.createDataFrame([(1, 2)], "user_id long, cents long")
    with _pytest.raises(ValueError, match="unqualified"):
        write_bucketed(df, "somedb.t", "user_id", 2)
    with _pytest.raises(ValueError, match="unqualified"):
        write_bucketed(df, "t; drop table x", "user_id", 2)
    # overwrite of a live catalogued table goes through the catalog-
    # resolved location path
    write_bucketed(df, "pcx_test_bx_rw", "user_id", 2)
    write_bucketed(df.union(df), "pcx_test_bx_rw", "user_id", 2)
    assert spark.table("pcx_test_bx_rw").count() == 2
    spark.sql("DROP TABLE pcx_test_bx_rw")


def test_compaction_lock_excludes_concurrent_compactors(spark, tmp_path):
    """r4 VERDICT #8: two racing compactions cannot both commit a full
    rewrite (which would double the live rows) — the second raises on
    the lock; a stale lock from a crashed compactor is broken."""
    import os

    import pytest as _pytest

    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    table = SnapshotTable(str(tmp_path / "t"))
    for epoch in range(2):
        table.append(spark.createDataFrame(
            [(u, epoch) for u in range(3)], "user_id long, epoch long"),
            run_id=f"e{epoch}")
    # simulate a concurrent compactor holding the lock
    lock, _tok = table._acquire_compact_lock(stale_lock_s=3600)
    with _pytest.raises(RuntimeError, match="concurrent compaction"):
        table.compact(spark, key_col="user_id", order_col="epoch")
    assert table.read(spark).count() == 6          # nothing was rewritten
    # a crashed compactor's stale lock is broken and compaction proceeds
    os.utime(lock, (1, 1))
    entry = table.compact(spark, key_col="user_id", order_col="epoch",
                          stale_lock_s=60)
    assert entry is not None
    assert not os.path.exists(lock)                # released on success
    assert table.read(spark).count() == 3          # newest row per key
    # appends racing a compaction stay live (compact replaces only what
    # it saw): append after the rewrite, both visible
    table.append(spark.createDataFrame([(7, 9)], "user_id long, epoch long"),
                 run_id="late")
    assert table.read(spark).count() == 4


@pytest.mark.parametrize("op", ["compact", "merge"])
def test_compaction_heartbeat_keeps_long_run_lock_fresh(spark, tmp_path, op):
    """r4 ADVICE #1: a LIVE compaction or merge running longer than
    stale_lock_s must not have its lock broken as 'stale' — the
    heartbeat refreshes the lock mtime, so a second maintainer still
    raises."""
    import time

    import pytest as _pytest

    from powerpoint_context_extractor_spark.sources import table_io
    table = table_io.SnapshotTable(str(tmp_path / "t"))
    table.append(spark.range(3).selectExpr("id AS user_id"), run_id="a")

    stale_s = 0.4
    orig = table_io._footer_row_count          # runs just before _commit

    def slow_count(files):
        time.sleep(3 * stale_s)            # outlive stale_lock_s
        # mid-run, a would-be takeover must see a FRESH lock and raise
        with _pytest.raises(RuntimeError, match="concurrent compaction"):
            table._acquire_compact_lock(stale_lock_s=stale_s)
        return orig(files)

    try:
        table_io._footer_row_count = slow_count
        if op == "compact":
            entry = table.compact(spark, stale_lock_s=stale_s)
        else:
            entry = table.merge(
                spark, spark.createDataFrame([(7,)], "user_id long"),
                "user_id", stale_lock_s=stale_s)
    finally:
        table_io._footer_row_count = orig
    assert entry is not None
    assert table.read(spark).count() == (3 if op == "compact" else 4)


@pytest.mark.parametrize("op", ["compact", "merge"])
def test_replace_commit_uses_one_manifest_read(spark, tmp_path, op):
    """A replace-commit rewrites and replaces exactly the snapshots of
    ONE manifest read. An append that lands right after that read stays
    live exactly once beside a compaction, and aborts a merge
    (optimistic concurrency) instead of being silently replaced."""
    import pytest as _pytest

    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    root = str(tmp_path / "t")
    table = SnapshotTable(root)
    schema = "k long, v string"
    table.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(5)], schema), "base")
    real_snapshots = SnapshotTable.snapshots
    fired = []

    def racy_snapshots(self):
        snaps = real_snapshots(self)
        if not fired:                    # first read inside the operation
            fired.append(True)
            SnapshotTable(root).append(spark.createDataFrame(
                [(100, "late")], schema), "late")
        return snaps

    try:
        SnapshotTable.snapshots = racy_snapshots
        if op == "compact":
            table.compact(spark)
        else:
            with _pytest.raises(RuntimeError, match="optimistic-concurrency"):
                table.merge(spark, spark.createDataFrame(
                    [(2, "m2")], schema), "k")
    finally:
        SnapshotTable.snapshots = real_snapshots
    assert fired
    ks = sorted(r["k"] for r in table.read(spark).collect())
    assert ks == [0, 1, 2, 3, 4, 100]


def test_compaction_aborts_commit_after_lock_ownership_loss(spark, tmp_path):
    """r4 ADVICE #1: if the lock IS broken mid-rewrite (stale takeover
    during a pause the heartbeat could not cover), the original must
    abort its replace-commit and must NOT unlink the new holder's
    lock."""
    import os

    import pytest as _pytest

    from powerpoint_context_extractor_spark.sources import table_io
    table = table_io.SnapshotTable(str(tmp_path / "t"))
    table.append(spark.range(3).selectExpr("id AS user_id"), run_id="a")
    lock_path = os.path.join(table.root, "_compact.lock")

    orig = table_io._footer_row_count          # runs just before _commit

    def steal_then_count(files):
        with open(lock_path, "w", encoding="utf-8") as f:
            f.write("thief-token 999 0\n")     # new holder's lock
        return orig(files)

    try:
        table_io._footer_row_count = steal_then_count
        with _pytest.raises(RuntimeError, match="lost .* ownership"):
            table.compact(spark)
    finally:
        table_io._footer_row_count = orig
    # no replace-commit happened; the thief's lock survived the finally
    assert len(table.snapshots()) == 1
    with open(lock_path, encoding="utf-8") as f:
        assert f.read().startswith("thief-token")
    os.unlink(lock_path)


def test_manifest_tolerates_torn_trailing_line(spark, tmp_path):
    """ADVICE r3: a crash mid-append leaves a torn FINAL line — reads
    skip it (that snapshot never committed). Corruption anywhere else
    still raises."""
    import json as _json

    import pytest as _pytest

    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    table = SnapshotTable(str(tmp_path / "t"))
    table.append(spark.range(3).selectExpr("id AS user_id"), run_id="a")
    table.append(spark.range(2).selectExpr("id AS user_id"), run_id="b")
    with open(table._manifest_path, "a", encoding="utf-8") as f:
        f.write('{"snapshot_id": "torn", "files": [')   # crash mid-write
    assert len(table.snapshots()) == 2                  # torn line skipped
    assert table.read(spark).count() == 5
    # mid-file corruption is NOT silently skipped
    with open(table._manifest_path, encoding="utf-8") as f:
        lines = f.readlines()
    lines.insert(1, "garbage not json\n")
    with open(table._manifest_path, "w", encoding="utf-8") as f:
        f.writelines(lines)
    with _pytest.raises(_json.JSONDecodeError):
        table.snapshots()


def test_repetition_stats_is_shuffle_free(spark, sf):
    """The Gopher repetition filter must run at scan speed: per-row
    array math only, no Exchange anywhere in the plan."""
    from powerpoint_context_extractor_spark.operators.textstats import (
        repetition_stats,
    )
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _plan(repetition_stats(docs))
    assert "Exchange" not in plan
    assert "*(1)" in plan or "WholeStageCodegen" in plan


def test_robots_join_is_broadcast(spark, sf):
    """Per-host rules are tiny: the pages join must broadcast, never
    sort-merge (which would shuffle the full pages table)."""
    from powerpoint_context_extractor_spark.operators.robots import (
        apply_robots,
    )
    pages = (spark.read.parquet(f"{sf}/documents.parquet")
             .select("doc_id",
                     F.format_string("h%d", F.col("doc_id") % 5).alias("host"),
                     F.lit("/p").alias("path")))
    robots = spark.createDataFrame(
        [("h0", "User-agent: *\nDisallow: /p")],
        "host string, robots_txt string")
    plan = _plan(apply_robots(pages, robots))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_paragraph_dedup_shuffles_hash_keys_not_bodies(spark, sf):
    """The frequency exchange must carry md5 keys: no full paragraph
    column in the exchange below the freq aggregate. Structural proxy:
    the plan has hashaggregates over 'ph' and no CartesianProduct."""
    from powerpoint_context_extractor_spark.operators.dedup import (
        paragraph_dedup,
    )
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _plan(paragraph_dedup(docs.select("doc_id", "text")))
    assert "CartesianProduct" not in plan and "ph" in plan


def test_schema_evolution_add_widen_reject_and_legacy(spark, tmp_path):
    """r6: evolved reads project old snapshots to the latest schema
    (typed NULLs for added columns, casts for widened ones);
    incompatible type changes are rejected at append; compaction
    across schema versions preserves the evolved shape."""
    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    table = SnapshotTable(str(tmp_path / "t"))
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    table.append(v1, "v1")
    # add a column AND widen id int -> bigint in one evolution step
    v2 = spark.createDataFrame([(3, "c", 30)],
                               "id long, s string, extra long")
    table.append(v2, "v2")
    assert table.table_schema() == [
        ("id", "bigint"), ("s", "string"), ("extra", "bigint")]
    got = {r["id"]: (r["s"], r["extra"])
           for r in table.read_evolved(spark).collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 30)}
    assert dict(table.read_evolved(spark).dtypes)["id"] == "bigint"
    # narrowing / retyping is refused
    import pytest as _pytest
    with _pytest.raises(ValueError, match="cannot change"):
        table.append(spark.createDataFrame([(9, 1)], "id long, s int"),
                     "bad")
    # compaction over mixed schemas keeps the evolved projection
    table.compact(spark, run_id="c")
    got3 = {r["id"]: (r["s"], r["extra"])
            for r in table.read_evolved(spark).collect()}
    assert got3 == got
    assert [s.get("run_id") for s in table.snapshots()] == ["c"]


def test_zorder_layout_bounds_both_dimensions(spark, tmp_path):
    """r6: range-partitioning on the Morton key gives every output
    file a bounded min/max window on BOTH interleaved columns (the
    footer-stats pruning a single-column sort only provides for its
    own column), and the key matches the pure-Python interleave."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from powerpoint_context_extractor_spark.operators import layout
    n = 1 << 12
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"))   # 64x64 grid
    # key correctness vs pure-Python Morton interleave
    got = df.withColumn("z", layout.zorder_key(["x", "y"], bits=6)) \
        .collect()
    for r in got:
        want = sum((((r["x"] >> b) & 1) << (2 * b))
                   + (((r["y"] >> b) & 1) << (2 * b + 1))
                   for b in range(6))
        assert r["z"] == want
    # layout: z-order vs linear x-sort, 8 files each
    zdir, ldir = str(tmp_path / "z"), str(tmp_path / "l")
    zorder_write(df, zdir, ["x", "y"], bits=6, n_files=8)
    (df.repartitionByRange(8, "x").sortWithinPartitions("x")
     .write.mode("overwrite").parquet(ldir))

    def _ranges(d, col):
        out = []
        import os
        for f in sorted(os.listdir(d)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            idx = md.schema.names.index(col)
            lo = min(md.row_group(g).column(idx).statistics.min
                     for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(idx).statistics.max
                     for g in range(md.num_row_groups))
            out.append(hi - lo)
        return out

    zx, zy = _ranges(zdir, "x"), _ranges(zdir, "y")
    lx, ly = _ranges(ldir, "x"), _ranges(ldir, "y")
    # linear layout: x tightly bounded, y spans ~the full domain
    assert sum(lx) / len(lx) < 16 and sum(ly) / len(ly) > 55

    # z-order: BOTH dimensions bounded well below the full domain.
    # Threshold note: range boundaries come from Spark's rdd-id-seeded
    # sampling, so they shift with how many jobs ran earlier in the
    # session; an unaligned boundary can make one file straddle a
    # quadrant edge. The guarantee that survives ANY boundary
    # placement is the average span staying far under the linear
    # layout's unsorted dimension (~full domain), on BOTH dimensions.
    assert sum(zx) / len(zx) <= 44 and sum(zy) / len(zy) <= 44
    assert sum(zy) / len(zy) < sum(ly) / len(ly) - 10
    import pytest as _pytest
    with _pytest.raises(ValueError, match="zorder_key"):
        layout.zorder_key(["x"])
