"""Pipeline-level tests: kernel-over-Spark byte-identity, lineage
reconciliation, resume exactly-once, metamorphic properties
(FIXTURES.md §5)."""

import os

import pytest
from pyspark.sql import functions as F

from powerpoint_context_extractor_spark import corpus
from powerpoint_context_extractor_spark.kernel import extract_document
from powerpoint_context_extractor_spark.operators.extract import (
    EXTRACTED_SCHEMA, extract_pages,
)
from powerpoint_context_extractor_spark.plans.flagship import run_extraction
from powerpoint_context_extractor_spark.sources.table_io import SnapshotTable

from .conftest import generate_pages_rows, write_pages_table


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages"))
    rows = list(generate_pages_rows(300, seed=42)) + corpus.fixture_pages()
    write_pages_table(spark, rows, d, num_partitions=6)
    return d


def test_spark_matches_kernel_byte_identical(spark, pages_dir):
    pages = spark.read.parquet(pages_dir)
    got = {r["url"]: r
           for r in extract_pages(pages.repartition(5, "url")).collect()}
    rows = {r["url"]: r for r in pages.select("url", "html", "text").collect()}
    assert set(got) == set(rows)
    for url, src in rows.items():
        expected = extract_document(url, bytes(src["html"]))
        g = got[url]
        if expected.error is None:
            assert g["text"] == expected.text, url          # byte-identical
            assert g["text_source"] == "kernel"
            assert g["n_blocks"] == expected.n_blocks
            assert [s.asDict() for s in (g["spans"] or [])] == expected.spans
        else:
            assert g["error"] == expected.error
            assert g["text"] == src["text"]                  # J2 fallback
            assert g["text_source"] == "fallback"


def test_kernel_batches_bookkeeping_columns():
    """``_kernel_batches_arrow`` in the driver: one output batch per
    input batch, and every column of every row is the kernel's result
    plus the J2 fallback, ``partition_id`` -1 outside a task and
    ``in_bytes`` the payload length (0 for a null payload)."""
    import pyarrow as pa

    from powerpoint_context_extractor_spark.operators.extract import (
        _kernel_batches_arrow,
    )
    flate = (b"%PDF-1.4\n1 0 obj << /Length 99 /Filter /FlateDecode >>\n"
             b"stream\nxx\nendstream\nendobj\n")
    rows = [
        ("https://a.example/html", b"<html><body><h1>T</h1><p>one two</p>"
         b"</body></html>", "pre-extracted html"),
        ("https://a.example/pdf", flate, "pre-extracted pdf"),
        ("https://a.example/wdoc", b"%WDOC1\nnotanumber\n", None),
        ("https://a.example/null", None, "pre-extracted null"),
    ]
    schema = pa.schema([("url", pa.string()), ("html", pa.binary()),
                        ("text", pa.string())])
    batches = [pa.RecordBatch.from_pylist(
        [dict(zip(schema.names, r)) for r in part], schema=schema)
        for part in (rows[:1], rows[1:])]
    out = list(_kernel_batches_arrow(iter(batches)))
    assert [rb.num_rows for rb in out] == [1, 3]
    assert all(rb.schema.names == EXTRACTED_SCHEMA.names for rb in out)
    got = [r for rb in out for r in rb.to_pylist()]
    assert [r["url"] for r in got] == [r[0] for r in rows]
    for g, (url, html, fallback) in zip(got, rows):
        want = extract_document(url, html)
        assert g["title"] == want.title, url
        assert g["spans"] == want.spans, url
        assert g["n_blocks"] == want.n_blocks, url
        assert g["error"] == want.error, url
        assert g["charset"] == want.charset, url
        assert g["partition_id"] == -1, url
        assert g["in_bytes"] == (len(html) if html is not None else 0), url
        if want.error is None:
            assert (g["text"], g["text_source"]) == (want.text, "kernel"), url
        elif fallback is None:
            assert (g["text"], g["text_source"]) == (None, None), url
        else:
            assert (g["text"], g["text_source"]) == (fallback,
                                                     "fallback"), url
    # one row of each kind
    assert got[0]["error"] is None and got[0]["text"]
    assert got[1]["error"] is not None and got[1]["text"] == rows[1][2]
    assert got[2]["error"] is not None and got[2]["text_source"] is None
    assert got[3]["error"] == "null_content" and got[3]["in_bytes"] == 0


def test_write_batches_flushes_a_row_group_per_row_group_bytes(
        tmp_path, monkeypatch):
    """``_write_batches`` holds a task's output batches and writes them
    as one row group each time they reach ``ROW_GROUP_BYTES``: fed
    about 21 MiB of output in 1 MiB batches, its file holds two row
    groups and every row, the first closed by the batch that reached
    the bound."""
    import types

    import pyarrow as pa
    import pyarrow.parquet as pq

    from powerpoint_context_extractor_spark.operators import extract
    monkeypatch.setattr(extract, "TaskContext", types.SimpleNamespace(
        get=lambda: types.SimpleNamespace(partitionId=lambda: 7,
                                          taskAttemptId=lambda: 70)))
    html = (b"<html><body><h1>T</h1><p>" + b"lorem ipsum dolor sit amet "
            * 4000 + b"</p></body></html>")
    schema = pa.schema([("url", pa.string()), ("html", pa.binary())])
    batches = [pa.RecordBatch.from_pydict(
        {"url": [f"https://a.example/{b}/{i}" for i in range(10)],
         "html": [html] * 10}, schema=schema) for b in range(20)]
    assert 20 * 10 * len(html) > extract.ROW_GROUP_BYTES
    (summary,) = extract._write_batches(str(tmp_path), iter(batches))
    row = summary.to_pylist()[0]
    assert (row["file"], row["rows"], row["ok"]) == (
        "part-00007-70.parquet", 200, 200)
    md = pq.ParquetFile(str(tmp_path / row["file"])).metadata
    assert md.num_rows == 200
    # each output batch is ~1.08 MB, so the 16th reaches 16 MiB
    assert [md.row_group(g).num_rows for g in range(md.num_row_groups)] == [
        160, 40]


def test_mixed_corpus_zero_decode_errors(spark, pages_dir):
    """r3 VERDICT #1 'done' gate: the bulk corpus now carries ~3%
    legacy-charset pages (cp1252/utf-16/BOM) and the charset sniffer
    decodes every HTML page — zero decode_error rows; the only error
    rows are corrupt binary payloads."""
    pages = spark.read.parquet(pages_dir)
    got = extract_pages(pages)
    by = {r["charset"]: r["n"] for r in
          got.groupBy("charset").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got.filter(F.col("error").startswith("decode_error")).count() == 0
    # all decode paths actually exercised by the mixed corpus — incl.
    # the r4 WHATWG CJK superset codecs from the cjk-charset fixtures
    for cs in ("utf-8", "utf-8-bom", "utf-16", "cp1252", "binary",
               "cp932", "gbk", "cp949"):
        assert by.get(cs, 0) > 0, (cs, by)


LINEAGE_MANIFEST_SCHEMA = [
    ["run_id", "string"], ["partition_id", "int"], ["input_split", "string"],
    ["row_count", "bigint"], ["ok_count", "bigint"], ["fail_count", "bigint"],
    ["bytes", "bigint"], ["wall_ms", "int"], ["committed_at", "timestamp"]]


def _lineage_by_partition(spark, info):
    return {r["partition_id"]: (r["row_count"], r["ok_count"],
                                r["fail_count"], r["bytes"])
            for r in spark.read.parquet(*info["lineage"]["files"]).collect()}


def _grouped_extracted(spark, info):
    """What lineage must equal: a group-by over the run's committed
    extracted snapshot."""
    ext = spark.read.parquet(*info["snapshot"]["files"])
    agg = ext.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("error").isNull().cast("long")).alias("ok"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("fail"),
        F.sum("in_bytes").alias("bytes"))
    return {r["partition_id"]: (r["n"], r["ok"], r["fail"], r["bytes"])
            for r in agg.collect()}


def test_run_extraction_lineage_reconciles(spark, pages_dir, tmp_path):
    pages = spark.read.parquet(pages_dir)
    n_input = pages.count()
    resumed = str(tmp_path / "resumed")
    run_extraction(spark, pages.limit(120).repartition(3, "url"), resumed)
    runs = {
        "plain": run_extraction(spark, pages, str(tmp_path / "plain")),
        "three": run_extraction(spark, pages.repartition(3, "url"),
                                str(tmp_path / "three")),
        "resume": run_extraction(spark, pages, resumed),
    }
    for shape, info in runs.items():
        want = n_input - 120 if shape == "resume" else n_input
        assert info["snapshot"]["row_count"] == want, shape
        lineage = _lineage_by_partition(spark, info)
        assert lineage == _grouped_extracted(spark, info), shape
        assert sum(v[0] for v in lineage.values()) == want, shape
        assert info["lineage"]["schema"] == LINEAGE_MANIFEST_SCHEMA, shape
    three = _lineage_by_partition(spark, runs["three"])
    assert sum(v[2] for v in three.values()) > 0   # corpus has bad rows
    assert 1 <= len(three) <= 3   # AQE may coalesce the repartition(3)

    # a snapshot the Spark writer committed (older tables) reads back
    # together with the driver-written ones
    lineage_tbl = SnapshotTable(str(tmp_path / "three" / "lineage"))
    driver_rows = lineage_tbl.read(spark)
    spark_written = lineage_tbl.append(driver_rows, "spark-written")
    assert spark_written["schema"] == LINEAGE_MANIFEST_SCHEMA
    both = lineage_tbl.read(spark)
    assert both.schema == driver_rows.schema
    got = sorted(tuple(r) for r in both.collect())
    assert got == sorted(2 * [tuple(r) for r in driver_rows.collect()])


def test_run_extraction_refuses_a_short_tally(spark, pages_dir, tmp_path,
                                             monkeypatch):
    """Task summaries that disagree with the committed snapshot's footer
    row count fail the run before any lineage line is committed."""
    from powerpoint_context_extractor_spark.sources import table_io
    from powerpoint_context_extractor_spark.sources.table_io import MANIFEST
    footer_rows = table_io._footer_row_count
    inflated = []

    def one_extra_row(files):
        n = footer_rows(files)
        if files and os.sep + "extracted" + os.sep in files[0]:
            inflated.append(files)
            return n + 1
        return n

    monkeypatch.setattr(table_io, "_footer_row_count", one_extra_row)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="lineage summaries"):
        run_extraction(spark, spark.read.parquet(pages_dir), out)
    assert inflated
    assert not os.path.exists(os.path.join(out, "lineage", MANIFEST))


def _jobs_in_group(spark, group, fn):
    """(fn's result, number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()   # status store is async
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_extraction_spark_jobs(spark, tmp_path):
    """The extraction write is the only Spark job of a fresh run over an
    input that needs no spread, and the resume probe infers no schema.
    (``pages_dir`` packs into fewer scan splits than cores, so it is
    spread: see ``test_run_extraction_spreads_packed_small_files``.)"""
    pages_dir = str(tmp_path / "pages")
    rows = (list(generate_pages_rows(300, seed=42))
            + corpus.fixture_pages())
    write_pages_table(spark, rows, pages_dir,
                      num_partitions=spark.sparkContext.defaultParallelism)
    pages = spark.read.parquet(pages_dir)
    assert (pages.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)
    out = str(tmp_path / "out")
    _, n = _jobs_in_group(spark, "pcx-fresh", lambda: run_extraction(
        spark, pages, out, resume=False))
    assert n == 1
    extracted = SnapshotTable(os.path.join(out, "extracted"))
    keys, n = _jobs_in_group(spark, "pcx-probe", lambda: (
        extracted.committed_keys(spark, "url")))
    assert n == 0
    # same size estimate as an inferred read, so the same join strategy
    inferred = spark.read.parquet(*extracted.data_files()).select("url")
    assert (keys._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            == inferred._jdf.queryExecution().optimizedPlan().stats()
            .sizeInBytes())
    # broadcast of the committed keys + the (empty) extraction write
    info, n = _jobs_in_group(spark, "pcx-resume", lambda: run_extraction(
        spark, pages, out))
    assert info["snapshot"]["row_count"] == 0
    assert n == 2


def test_run_extraction_spreads_packed_small_files(spark, pages_dir,
                                                  tmp_path):
    """Six small files are more files than cores, but Spark packs them
    into fewer scan splits than cores; the spread counts the planned
    splits of the bare scan (no job), so every core gets a task file.
    The spread's shuffle stage is the one job it adds (AQE runs it as
    its own job)."""
    pages = spark.read.parquet(pages_dir)
    cores = spark.sparkContext.defaultParallelism
    assert len(pages.inputFiles()) >= cores
    assert pages.rdd.getNumPartitions() < cores
    info, n = _jobs_in_group(spark, "pcx-packed", lambda: run_extraction(
        spark, pages, str(tmp_path / "out"), resume=False))
    assert len(info["snapshot"]["files"]) >= cores
    assert n == 2


def test_run_extraction_spreads_a_single_row_group_input(spark, pages_dir,
                                                         tmp_path):
    """A one-file, one-row-group input is spread over several tasks
    even when resume anti-joins it against a table of more committed
    files than cores: the spread is decided on the pages scan, before
    the anti-join adds the committed files to the input."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    out = str(tmp_path / "out")
    base = run_extraction(
        spark, spark.read.parquet(pages_dir).repartition(6, "url"), out)
    assert len(base["snapshot"]["files"]) >= 4
    path = str(tmp_path / "single.parquet")
    rows = [dict(r, url=r["url"] + "-single")
            for r in generate_pages_rows(60, seed=9)]
    pq.write_table(pa.Table.from_pylist(rows), path)
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    info = run_extraction(spark, spark.read.parquet(path), out, resume=True)
    assert info["snapshot"]["row_count"] == 60
    assert len(_lineage_by_partition(spark, info)) >= 2
    tbl = SnapshotTable(os.path.join(out, "extracted")).read(spark)
    n = base["snapshot"]["row_count"] + 60
    assert tbl.count() == tbl.select("url").distinct().count() == n


def test_flagship_cli(spark, tmp_path, monkeypatch):
    """``plans/flagship.py``'s ``main``: a resumed rerun commits no row,
    ``--no-resume`` commits every page again, and ``--partitions`` is
    rejected: the input spread is ``_spread_small_input``'s alone."""
    import sys

    from powerpoint_context_extractor_spark.plans import flagship
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_table(spark, generate_pages_rows(20, seed=3), pages, 2)
    argv = ["flagship", "--pages", pages, "--out", out,
            "--master", spark.sparkContext.master]
    for extra in ([], [], ["--no-resume"]):
        monkeypatch.setattr(sys, "argv", argv + extra)
        flagship.main()
    assert [s["row_count"] for s in SnapshotTable(
        os.path.join(out, "extracted")).snapshots()] == [20, 0, 20]
    monkeypatch.setattr(sys, "argv", argv + ["--partitions", "3"])
    with pytest.raises(SystemExit) as exc:
        flagship.main()
    assert exc.value.code == 2


def test_resume_exactly_once(spark, pages_dir, tmp_path):
    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_dir).repartition(3, "url")
    first = pages.limit(120)
    run_extraction(spark, first, out)
    # second run over the FULL input resumes: only missing urls processed
    info2 = run_extraction(spark, pages, out)
    tbl = SnapshotTable(os.path.join(out, "extracted")).read(spark)
    assert tbl.count() == pages.count()
    assert tbl.select("url").distinct().count() == pages.count()  # exactly-once
    assert info2["snapshot"]["row_count"] == pages.count() - 120
    # idempotent third run: nothing left to do
    info3 = run_extraction(spark, pages, out)
    assert info3["snapshot"]["row_count"] == 0
    # a run with nothing new commits a snapshot with no files, and no
    # lineage snapshot
    assert info3["snapshot"]["files"] == []
    assert info3["lineage"] is None
    assert SnapshotTable(os.path.join(out, "extracted")).snapshots()[-1][
        "snapshot_id"] == info3["snapshot"]["snapshot_id"]
    assert SnapshotTable(os.path.join(out, "extracted")).read(
        spark).count() == pages.count()


def test_uncommitted_snapshot_dir_is_invisible(spark, pages_dir, tmp_path,
                                               monkeypatch):
    """Crash-safety with a real failed commit: Spark writes the
    extraction snap- dir, then the manifest append fails. The run
    raises and commits no lineage; the orphan dir is invisible to
    readers and to resume, a rerun commits every url exactly once, and
    vacuum() reclaims the orphan."""
    out = str(tmp_path / "out")
    ext_root = os.path.join(out, "extracted")
    pages = spark.read.parquet(pages_dir).repartition(2, "url")
    real_commit = SnapshotTable._commit
    failed = []

    def crash_once(self, entry):
        if not failed and os.path.basename(self.root) == "extracted":
            failed.append(entry)
            raise OSError("killed before the manifest append")
        real_commit(self, entry)

    monkeypatch.setattr(SnapshotTable, "_commit", crash_once)
    with pytest.raises(OSError, match="killed before the manifest append"):
        run_extraction(spark, pages, out)
    orphan = os.path.join(ext_root, f"snap-{failed[0]['snapshot_id']}")
    assert os.path.isdir(orphan) and failed[0]["row_count"] > 0
    assert SnapshotTable(os.path.join(out, "lineage")).snapshots() == []
    assert SnapshotTable(ext_root).read(spark) is None
    # the resumed rerun sees no committed url: it redoes exactly the
    # failed run's urls, each once
    info = run_extraction(spark, pages, out)
    n_urls = pages.select("url").distinct().count()
    assert info["snapshot"]["row_count"] == failed[0]["row_count"] == n_urls
    tbl = SnapshotTable(ext_root).read(spark)
    assert tbl.count() == tbl.select("url").distinct().count() == n_urls
    assert SnapshotTable(ext_root).vacuum() == [orphan]
    assert SnapshotTable(ext_root).read(spark).count() == n_urls


def test_lineage_wall_ms_shows_the_slow_partition(spark, pages_dir,
                                                  tmp_path):
    """Each lineage row carries its own task's wall time, so the
    partition holding one slow page (400k ``<p>`` blocks, about a second
    in the kernel) has the largest ``wall_ms``."""
    import pyspark.sql.types as T
    slow_url = "https://slow.example/400k-blocks"
    slow = spark.createDataFrame(
        [(slow_url, b"<html><body>" + b"<p>a</p>" * 400_000
          + b"</body></html>", None)],
        T.StructType([T.StructField("url", T.StringType(), False),
                      T.StructField("html", T.BinaryType(), True),
                      T.StructField("text", T.StringType(), True)]))
    pages = spark.read.parquet(pages_dir).select("url", "html", "text")
    info = run_extraction(spark, pages.unionByName(slow).repartition(3, "url"),
                          str(tmp_path / "out"))
    lineage = spark.read.parquet(*info["lineage"]["files"]).collect()
    slowest = max(lineage, key=lambda r: r["wall_ms"])
    extracted = spark.read.parquet(*info["snapshot"]["files"])
    slow_pid = extracted.filter(F.col("url") == slow_url).first()[
        "partition_id"]
    assert slowest["partition_id"] == slow_pid
    assert max(r["wall_ms"] for r in lineage) <= info["wall_ms"]


def _rows_but_partition(df):
    """``df``'s rows without ``partition_id``, as sorted tuples."""
    return sorted((tuple(r) for r in df.drop("partition_id").collect()),
                  key=repr)


def test_task_written_snapshot_files(spark, pages_dir, tmp_path):
    """The extraction tasks write one file per non-empty task, in the
    snapshot-file config, holding the rows ``extract_pages`` returns."""
    import re

    import pyarrow.parquet as pq
    pages = spark.read.parquet(pages_dir)
    info = run_extraction(spark, pages.repartition(3, "url"),
                          str(tmp_path / "out"))
    pids = {f: int(re.fullmatch(r"part-(\d{5})-\d+\.parquet",
                                os.path.basename(f)).group(1))
            for f in info["snapshot"]["files"]}
    lineage = spark.read.parquet(*info["lineage"]["files"]).collect()
    assert sorted(r["partition_id"] for r in lineage) == sorted(pids.values())
    for f, pid in pids.items():
        assert set(pq.read_table(f, columns=["partition_id"]).column(
            "partition_id").to_pylist()) == {pid}
        pf = pq.ParquetFile(f)
        md = pf.metadata
        assert not (md.metadata or {}).get(b"ARROW:schema")
        assert pf.schema_arrow.field("url").nullable is False
        paths = [md.schema.column(i).path for i in range(md.num_columns)]
        for rg in range(md.num_row_groups):
            for i, path in enumerate(paths):
                col = md.row_group(rg).column(i)
                assert col.compression == "ZSTD", path
                assert not col.has_dictionary_page, path
                assert not any("DICTIONARY" in e for e in col.encodings), path
                if path == "text" or path.startswith("spans."):
                    assert not col.is_stats_set, path
                elif path == "url":
                    assert col.is_stats_set, path

    table = SnapshotTable(str(tmp_path / "out" / "extracted")).read(spark)
    assert _rows_but_partition(table) == _rows_but_partition(
        extract_pages(pages))


def test_task_file_is_one_row_group_over_many_crossing_batches(
        spark, pages_dir, tmp_path):
    """The row group follows the task, not the crossing batch: with
    ``maxBytesPerBatch`` set at runtime so low that every task reads at
    least three Arrow batches, each file ``write_extracted`` writes
    holds exactly one row group, and the files hold the rows of
    ``extract_pages``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    from powerpoint_context_extractor_spark.operators.extract import (
        _narrow, write_extracted,
    )

    def _batch_sizes(batches):
        pid = TaskContext.get().partitionId()
        for rb in batches:
            yield pa.RecordBatch.from_pydict(
                {"pid": [pid], "rows": [rb.num_rows]},
                schema=pa.schema([("pid", pa.int32()), ("rows", pa.int64())]))

    pages = spark.read.parquet(pages_dir).repartition(3, "url")
    out = str(tmp_path / "files")
    os.makedirs(out)
    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(16 << 10))
    try:
        narrow = _narrow(pages)
        per_task = {}
        for r in narrow.mapInArrow(_batch_sizes, "pid int, rows long"
                                   ).collect():
            per_task.setdefault(r["pid"], []).append(r["rows"])
        summary = write_extracted(narrow, out).collect()
    finally:
        spark.conf.set(key, old)
    assert len(per_task) == 3
    assert min(len(sizes) for sizes in per_task.values()) >= 3, per_task
    assert sorted(r["partition_id"] for r in summary) == sorted(per_task)
    for r in summary:
        md = pq.ParquetFile(os.path.join(out, r["file"])).metadata
        assert md.num_row_groups == 1, r["file"]
        assert md.num_rows == r["rows"] == sum(per_task[r["partition_id"]])
    assert _rows_but_partition(spark.read.schema(EXTRACTED_SCHEMA).parquet(
        out)) == _rows_but_partition(extract_pages(pages))


def test_vacuum_removes_unlisted_files_in_live_snap_dirs(spark, pages_dir,
                                                        tmp_path):
    """A file no snapshot lists, such as a failed task attempt's, is
    invisible to reads and is deleted by ``vacuum()``."""
    import shutil
    out = str(tmp_path / "out")
    info = run_extraction(
        spark, spark.read.parquet(pages_dir).repartition(2, "url"), out)
    tbl = SnapshotTable(os.path.join(out, "extracted"))
    listed = info["snapshot"]["files"]
    stray = os.path.join(os.path.dirname(listed[0]), "part-00000-999.parquet")
    shutil.copyfile(listed[0], stray)
    n = info["snapshot"]["row_count"]
    assert tbl.read(spark).count() == n
    assert tbl.committed_keys(spark, "url").count() == n
    assert stray not in tbl.data_files()
    assert tbl.vacuum() == [stray]
    assert not os.path.exists(stray)
    assert tbl.data_files() == listed and tbl.read(spark).count() == n


def test_mixed_writer_extracted_table(spark, pages_dir, tmp_path):
    """A table with a snapshot Spark's writer committed (tables from
    before the tasks wrote their own files) resumes and reads back as
    one table with one schema."""
    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_dir)
    tbl = SnapshotTable(os.path.join(out, "extracted"))
    tbl.append(extract_pages(pages.orderBy("url").limit(50)), "spark-written")
    schema = tbl.table_schema()
    info = run_extraction(spark, pages, out, resume=True)
    n_urls = pages.select("url").distinct().count()
    assert info["snapshot"]["row_count"] == n_urls - 50
    assert tbl.table_schema() == schema
    assert [[tuple(c) for c in s["schema"]]
            for s in tbl.snapshots()] == [schema, schema]
    both = tbl.read(spark)
    assert [f.name for f in both.schema.fields] == [
        f.name for f in EXTRACTED_SCHEMA.fields]
    assert both.count() == both.select("url").distinct().count() == n_urls
    assert tbl.read_evolved(spark).count() == n_urls


def detect_heavy_hitters(df, key_col: str,
                         fraction_threshold: float = 0.1) -> list:
    """Keys holding > ``fraction_threshold`` of ``df``'s rows — the
    salting trigger (U5)."""
    src = df.select(key_col)
    total = src.count()
    if total == 0:
        return []
    hits = (src.groupBy(key_col).count()
            .filter(F.col("count") > total * fraction_threshold)
            .orderBy(F.col("count").desc(), F.col(key_col)))
    return [r[key_col] for r in hits.collect()]


def test_heavy_hitter_detection_on_skewed_hosts(spark, pages_dir):
    pages = spark.read.parquet(pages_dir)
    hosts = pages.select(
        F.regexp_extract("url", r"https://([^./]+)\.", 1).alias("host"))
    hh = detect_heavy_hitters(hosts, "host", fraction_threshold=0.15)
    assert hh == ["host0"]  # corpus plants ~30% of rows on host0


def test_salt_and_order_invariance(spark, pages_dir):
    """Changing partition count / input order changes no per-url output
    (FIXTURES.md §5: order independence + salt invariance)."""
    pages = spark.read.parquet(pages_dir)
    a = {r["url"]: (r["text"], r["n_blocks"], r["error"])
         for r in extract_pages(pages.repartition(2, "url")).collect()}
    shuffled = pages.orderBy(F.reverse(F.col("url")))
    b = {r["url"]: (r["text"], r["n_blocks"], r["error"])
         for r in extract_pages(shuffled.repartition(7, "url")).collect()}
    assert a == b


def test_subset_semantics(spark, pages_dir):
    """Extracting a url-subset == subsetting the full run (the reference's
    slide_filter contract, `pptx_extract.py:250-252`)."""
    pages = spark.read.parquet(pages_dir)
    full = {r["url"]: r["text"]
            for r in extract_pages(pages).collect()}
    subset_urls = sorted(full)[:50]
    sub = {r["url"]: r["text"]
           for r in extract_pages(pages.filter(F.col("url").isin(subset_urls))).collect()}
    assert sub == {u: full[u] for u in subset_urls}


def test_extract_plan_prunes_columns(spark, pages_dir):
    """The parquet scan must read only (url, html, text) — never warc_ts/
    lang (F7 / ReadSchema check)."""
    pages = spark.read.parquet(pages_dir)
    plan = extract_pages(pages)._jdf.queryExecution().executedPlan().toString()
    assert "warc_ts" not in plan
    assert "lang" not in plan


def test_query_scratch_dirs_stay_inside_session_root(spark, sf_dir):
    """r4 VERDICT #9 'done' gate: the temp-dir-using contract queries
    nest ALL scratch under one atexit-cleaned session root — a sweep
    leaves no new pcx_*/spark_graft_* entries at the top of /tmp."""
    import os
    import tempfile

    import __spark_entry__ as entry_mod
    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    entry_mod._sink_jsonl_shards(spark, sf_dir).count()
    entry_mod._warc_extract(spark, sf_dir).count()
    from powerpoint_context_extractor_spark.streaming import ingest
    root = ingest._TMP_ROOT
    leaked = {e for e in set(os.listdir(tmp)) - before
              - {os.path.basename(root or "")}
              if e.startswith(("pcx_", "spark_graft"))}
    assert not leaked, leaked
    # everything the queries made lives under the one session root
    assert root and os.path.isdir(root)
    assert entry_mod._session_root() == root
    assert any(n.startswith(("pcx_jsonl_", "warc_"))
               for n in os.listdir(root))


def test_snapshot_commit_is_metadata_only(spark, tmp_path, monkeypatch):
    """The commit path must not rescan the just-written data: row_count
    comes from parquet footers (Iceberg-manifest analog). Spies on
    DataFrameReader.parquet — zero reads during append()."""
    from pyspark.sql.readwriter import DataFrameReader
    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    reads = []
    orig = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.append(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    tbl = SnapshotTable(str(tmp_path / "t"))
    entry = tbl.append(spark.range(1234).toDF("id"), "run-x")
    assert entry["row_count"] == 1234
    assert reads == []          # no Spark re-read of committed data
    # readers still see exactly the committed rows
    assert tbl.read(spark).count() == 1234


def test_snapshot_time_travel_and_vacuum_guard(spark, tmp_path):
    """r6 time travel: as-of reads replay the manifest to a historical
    point (by snapshot id or timestamp); a later compaction doesn't
    rewrite history; vacuum honestly breaks pre-compaction targets."""
    import pytest as _pytest

    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    tbl = SnapshotTable(str(tmp_path / "ttv"))
    s1 = tbl.append(spark.range(0, 10).toDF("id"), "a")
    s2 = tbl.append(spark.range(10, 25).toDF("id"), "b")
    tbl.compact(spark, run_id="c")
    s3 = tbl.append(spark.range(25, 30).toDF("id"), "d")

    def ids(df):
        return sorted(r["id"] for r in df.collect())

    assert ids(tbl.read_at(spark, snapshot_id=s1["snapshot_id"])) \
        == list(range(10))
    assert ids(tbl.read_at(spark, snapshot_id=s2["snapshot_id"])) \
        == list(range(25))
    # timestamp cut at s2's commit == the same state
    assert ids(tbl.read_at(spark, as_of_ts=s2["committed_at"])) \
        == list(range(25))
    # current read includes the compaction + third append
    assert ids(tbl.read(spark)) == list(range(30))
    with _pytest.raises(ValueError, match="unknown snapshot_id"):
        tbl.read_at(spark, snapshot_id="nope")
    with _pytest.raises(ValueError, match="exactly one"):
        tbl.read_at(spark)
    # vacuum drops the replaced pre-compaction files -> honest error
    # for historical targets, while current reads stay intact
    assert tbl.vacuum()
    with _pytest.raises(ValueError, match="vacuumed"):
        tbl.read_at(spark, snapshot_id=s1["snapshot_id"])
    assert ids(tbl.read(spark)) == list(range(30))
    assert ids(tbl.read_at(spark, snapshot_id=s3["snapshot_id"])) \
        == list(range(30))


def test_merge_upsert_semantics_and_history(spark, tmp_path):
    """r6: SnapshotTable.merge — matched keys take the source value,
    delete-marked keys vanish, new keys insert; the pre-merge snapshot
    stays time-travel readable; duplicate source keys are rejected
    BEFORE any write; the compaction lock is released afterwards."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    tbl = SnapshotTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(i, f"old{i}") for i in range(10)], "k long, v string")
    s1 = tbl.append(base, "base")
    src = spark.createDataFrame(
        [(2, "new2", False), (4, "new4", False),   # updates
         (7, None, True),                          # delete
         (100, "new100", False)],                  # insert
        "k long, v string, is_delete boolean")
    tbl.merge(spark, src, "k", delete_col="is_delete")
    got = {r["k"]: r["v"] for r in tbl.read(spark).collect()}
    want = {i: f"old{i}" for i in range(10) if i != 7}
    want.update({2: "new2", 4: "new4", 100: "new100"})
    assert got == want
    # pre-merge history intact
    old = {r["k"]: r["v"]
           for r in tbl.read_at(spark,
                                snapshot_id=s1["snapshot_id"]).collect()}
    assert old == {i: f"old{i}" for i in range(10)}
    # duplicate source keys rejected before any commit
    n_snaps = len(tbl.snapshots())
    dup = spark.createDataFrame(
        [(1, "a", False), (1, "b", True)],
        "k long, v string, is_delete boolean")
    with pytest.raises(ValueError, match="duplicate"):
        tbl.merge(spark, dup, "k", delete_col="is_delete")
    assert len(tbl.snapshots()) == n_snaps
    # lock released: a follow-up merge works immediately
    tbl.merge(spark, spark.createDataFrame(
        [(101, "x", False)], "k long, v string, is_delete boolean"),
        "k", delete_col="is_delete")
    assert tbl.read(spark).filter(F.col("k") == 101).count() == 1
    assert not [f for f in os.listdir(str(tmp_path / "t"))
                if f.endswith(".lock")]


def test_capstone_pretrain_corpus_plan_and_wds(spark, sf_dir, tmp_path):
    """r8 (capstone v4, r7 VERDICT #2): the pretraining capstone now
    commits its three multi-consumer stages (gated/kept/rows) through
    SnapshotTable boundaries, so the FINAL plan scans a stage-local
    handful of parquet files instead of re-executing its upstream
    ~150 times (the r7 one-plan amplification this audit used to pin
    at <=170 corpus scans). Still no collect/cache/localCheckpoint
    anywhere (no InMemoryTableScan, no RDD-checkpoint scan), no
    BroadcastNestedLoopJoin, and the output rows route into WDS tar
    shards that read back exactly."""
    import __spark_entry__ as entry_mod
    from powerpoint_context_extractor_spark.sources.wds import (
        read_wds_shards, write_wds_shards,
    )
    out = entry_mod.queries()["capstone_pretrain_corpus"](spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "InMemoryTableScan" not in final          # nothing cached
    assert "BroadcastNestedLoopJoin" not in final    # no cross blowup
    # the snapshot boundaries collapse the subtree re-execution: the
    # final plan joins the committed `rows` snapshot with the global
    # order index over it — a handful of scans, not ~150. A
    # regression that silently re-inlines a subtree busts the ceiling.
    n_scans = final.count("Scan parquet")
    assert 1 <= n_scans <= 12, n_scans
    rows = out.collect()
    assert rows, "capstone produced no rows at sf0.001"
    # contract invariants: contiguous global order, consistent shards
    idxs = sorted(r["global_idx"] for r in rows)
    assert idxs == list(range(len(rows)))
    assert all(r["shard_id"] == r["global_idx"] % 8 for r in rows)
    by_order = sorted(rows, key=lambda r: (r["domain"], r["doc_id"],
                                           r["rep"]))
    assert [r["global_idx"] for r in by_order] == list(range(len(rows)))
    # decontamination: no canary doc (doc_id%17==5) and no eval doc
    # (doc_id%101==0) survives; gate: no stopword-free doc survives
    assert not [r for r in rows if r["doc_id"] % 17 == 5]
    assert not [r for r in rows if r["doc_id"] % 101 == 0]
    assert not [r for r in rows if r["doc_id"] % 7 == 3]
    # the WDS sink stage: shard the emitted corpus rows and read back
    key = [(r["global_idx"], f'{r["doc_id"]}|{r["domain"]}|{r["rep"]}')
           for r in rows]
    df = spark.createDataFrame(key, "doc_id long, text string")
    wds_dir = str(tmp_path / "wds")
    write_wds_shards(df, wds_dir, n_shards=4)
    back = {(r["doc_id"], r["text"])
            for r in read_wds_shards(spark, wds_dir).collect()}
    assert back == set(key)


def test_merge_aborts_on_concurrent_append(spark, tmp_path):
    """r7 (r6 ADVICE): an append() that commits while a merge is
    writing (append never takes the compaction lock) trips the
    optimistic-concurrency validation — the merge ABORTS instead of
    committing a replace that would leave the append's rows
    duplicating merged keys; a rerun then succeeds and sees BOTH the
    late append and the merge."""
    import pytest

    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    root = str(tmp_path / "t")
    tbl = SnapshotTable(root)
    tbl.append(spark.createDataFrame(
        [(i, f"old{i}") for i in range(5)], "k long, v string"), "base")

    # inject the race at the validation seam: a REAL append through a
    # second handle lands after the merge captured its `replaces` list
    # but before its commit — exactly the window the ADVICE describes
    real_validate = tbl._validate_optimistic
    fired = {"n": 0}

    def racy_validate(expected_ids):
        if fired["n"] == 0:
            fired["n"] += 1
            SnapshotTable(root).append(spark.createDataFrame(
                [(2, "late2")], "k long, v string"), "late")
        real_validate(expected_ids)

    tbl._validate_optimistic = racy_validate
    src = spark.createDataFrame([(2, "merged2")], "k long, v string")
    with pytest.raises(RuntimeError, match="optimistic-concurrency"):
        tbl.merge(spark, src, "k")
    tbl._validate_optimistic = real_validate
    # nothing replaced: base + late append both live, no merge commit
    live = {s["run_id"] for s in tbl.snapshots()}
    assert live == {"base", "late"}
    # lock was released on abort; rerun succeeds against the new state
    tbl.merge(spark, src, "k")
    got = sorted((r["k"], r["v"]) for r in tbl.read(spark).collect())
    # k=2 resolved by the rerun merge: exactly ONE row, the source's
    assert got == [(0, "old0"), (1, "old1"), (2, "merged2"),
                   (3, "old3"), (4, "old4")]
    # the unit seam directly: stale expected-ids raise, current pass
    cur_ids = {s["snapshot_id"] for s in tbl.snapshots()}
    tbl._validate_optimistic(cur_ids)
    with pytest.raises(RuntimeError, match="optimistic-concurrency"):
        tbl._validate_optimistic(set())    # pretends no snapshot seen


def test_stats_pruning_and_incremental_read(spark, tmp_path):
    """r7: footer-stats file skipping prunes exactly the out-of-range
    files (metadata only — the skip count is pinned), fully-pruned
    ranges return None, stats-less columns never skip blind; and
    read_changes returns exactly the post-anchor appends, returns
    None for nothing-new, raises on unknown anchors and on
    replace-commits after the anchor."""
    import pytest

    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    tbl = SnapshotTable(str(tmp_path / "t"))
    snaps = []
    for k in range(4):
        df = spark.createDataFrame(
            [(k * 100 + i, f"v{k}-{i}") for i in range(100)],
            "k long, v string").coalesce(1)
        snaps.append(tbl.append(df, f"run-{k}"))
    files, skipped = tbl._pruned_files("k", 150, 260)
    assert skipped == 2 and len(files) == 2       # files 0 and 3 skip
    got = sorted(r["k"] for r in
                 tbl.read_pruned(spark, "k", 150, 260).collect())
    assert got == list(range(150, 261))
    assert tbl.read_pruned(spark, "k", 10_000, 20_000) is None
    # string column has stats too; a bogus column never skips
    f2, s2 = tbl._pruned_files("nope", 0, 1)
    assert s2 == 0 and len(f2) == 4
    # incremental read: everything after snapshot 1
    inc = sorted(r["k"] for r in
                 tbl.read_changes(spark,
                                  snaps[1]["snapshot_id"]).collect())
    assert inc == list(range(200, 400))
    assert tbl.read_changes(spark, snaps[3]["snapshot_id"]) is None
    with pytest.raises(ValueError, match="unknown snapshot"):
        tbl.read_changes(spark, "nope")
    tbl.compact(spark, run_id="c")
    with pytest.raises(ValueError, match="replace commit"):
        tbl.read_changes(spark, snaps[1]["snapshot_id"])
