"""The executor-side file sinks (WARC, WET, WebDataset shards,
artifacts): byte goldens of every file they write, and the task-side
write protocol they share."""

import hashlib
import os

import pytest

from powerpoint_context_extractor_spark.sources.warc import (
    write_documents_as_warc, write_extracted_as_wet,
)
from powerpoint_context_extractor_spark.sources.wds import write_wds_shards

from .conftest import write_artifacts

_TEXTS = ["plain ascii", "accents é ü and 中文", "", "two\nlines\r\n",
          "x" * 300]


def _write_all(spark, root: str) -> dict:
    """Every sink over one fixed small input, each into its own dir
    under ``root``; returns what the sinks returned."""
    docs = spark.createDataFrame(
        [(i, _TEXTS[i % len(_TEXTS)] + f" {i}") for i in range(11)],
        "doc_id long, text string")
    wet_rows = spark.createDataFrame(
        [(f"https://h{i % 3}.example/p/{i}",
          None if i == 4 else _TEXTS[i % len(_TEXTS)]) for i in range(9)],
        "url string, text string")
    payloads = spark.createDataFrame(
        [(7, bytearray(b"payload-seven")), (42, bytearray(b"\x00\x01\xff")),
         (3, None), (1000, bytearray(b"z" * 5000))],
        "doc_id long, payload binary")
    write_documents_as_warc(docs, os.path.join(root, "warc_gz"), n_files=3)
    write_documents_as_warc(docs, os.path.join(root, "warc"), n_files=2,
                            gzip_records=False)
    write_extracted_as_wet(wet_rows, os.path.join(root, "wet_gz"), n_files=2)
    write_extracted_as_wet(wet_rows, os.path.join(root, "wet"), n_files=3,
                           gzip_records=False)
    return {"wds": write_wds_shards(docs, os.path.join(root, "wds"),
                                    n_shards=3),
            "artifacts": write_artifacts(payloads,
                                         os.path.join(root, "artifacts"),
                                         prefix="doc")}


def _digests(root: str) -> dict:
    """sha256 of every file under ``root``, by path relative to it."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(
                    fh.read()).hexdigest()
    return out


#: recorded from the mapInPandas / applyInPandas / foreachPartition
#: sinks that preceded the shared task-side writer
GOLDEN = {
    "artifacts/doc_00003.bin":
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
    "artifacts/doc_00007.bin":
        "4861f4ac5d36c71110c9700d90ee03fad2ddc6e0c8a96ef91b017acfca432076",
    "artifacts/doc_00042.bin":
        "26a66b061e8f48f39927c312f25293959729eee95978e2892d49d3512a5cc092",
    "artifacts/doc_01000.bin":
        "bc9d580ae18748b2e1583eff72633a43d5564fb63b7e699b08380d1d4d385bcc",
    "warc/part-00000.warc":
        "2de69d22f0807df95be38f11518e49309602d7ca9db3fc2ae9df268e53082b8e",
    "warc/part-00001.warc":
        "e6258e5077306dc63b372a835dee4465f55ce74e17a3ada52351339d8fbd0001",
    "warc_gz/part-00000.warc.gz":
        "b6ebbf30dbb5417b627c65e049d4bff4e2c79336861b9ff22b483ee6b9fc94f0",
    "warc_gz/part-00001.warc.gz":
        "78e843e847b25fe161c4a42e639af91d0439761c27698a218652c4c6673cc481",
    "warc_gz/part-00002.warc.gz":
        "c25b991ee06e64c77c3ec9b6dbd91310f56948a56243864394d3e0b524eede58",
    "wds/shard-00000.tar":
        "ed34721e0cbc2758390f0ad60eaa683308e780a8bce3cdd27f84c516f3704a27",
    "wds/shard-00001.tar":
        "1549d9f6d1cdb575e6144dd95a5e20bfa0c450f5df85154d3a639ba92c48dacd",
    "wds/shard-00002.tar":
        "934dc25e9dbc8d6e8bad458d0dbdc7f186525a9b1327d3f04bd349b63fe1aa50",
    "wet/part-00000.wet.warc":
        "aa10e2d57a30c44cce1cb6aa1b5224b26db204ba0f2a24efb73b4e190c99a0aa",
    "wet/part-00001.wet.warc":
        "5a6456ace0031f10229c6d93bc732b5a24840fb9777570f3867b7a77d7bf19c9",
    "wet/part-00002.wet.warc":
        "d6b1ab88bac02825ad538a8e642cb24bcce6dd7a11642e7475f2607253eb8fe2",
    "wet_gz/part-00000.wet.warc.gz":
        "73ca9d8c3f14572f389b146d645b2184f2f6b0342290b7d7a5a7837d1dcd756b",
    "wet_gz/part-00001.wet.warc.gz":
        "c27393fa845a8fd3695aa186f578e402ea361d2f1e152ba0f4b481174f20fd59",
}


def test_sinks_write_golden_bytes(spark, tmp_path):
    """Every file each sink writes is byte-identical to the golden,
    and nothing else (no temp file) is left in the sink dirs."""
    got = _write_all(spark, str(tmp_path))
    assert got == {"wds": 3, "artifacts": 4}
    assert _digests(str(tmp_path)) == GOLDEN


def test_failing_write_fails_the_job_and_leaves_no_file(spark, tmp_path):
    """A ``write`` that raises mid-file fails the job; the half-written
    file is neither moved into place nor left behind as a temp file."""
    from powerpoint_context_extractor_spark.sources.artifact_sink import (
        write_files,
    )
    rows = (spark.createDataFrame([("a.bin", 1), ("a.bin", 2), ("b.bin", 3)],
                                  "file string, v long")
            .repartition(1).sortWithinPartitions("file", "v"))

    def _write(f, file_rows):
        for (v,) in file_rows:
            if v == 2:
                raise RuntimeError("write failed mid-file")
            f.write(b"%d\n" % v)

    out = tmp_path / "out"
    with pytest.raises(Exception, match="write failed mid-file"):
        write_files(rows, str(out), _write)
    assert os.listdir(out) == []
