"""Scalar column helpers that only these tests use, checked beside the
package's ``dedup.portable_hash`` and the sweep's ``_CENTS``."""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from powerpoint_context_extractor_spark.operators.dedup import portable_hash

from .conftest import write_artifacts

#: chars the reference's sanitize_filename maps to '_'
#: (`pptx_extractor/utils/common.py:49-64`)
_INVALID = '<>:"/\\|?* '


def sanitize_filename(col: Column, max_len: int = 100) -> Column:
    """Translate invalid filename chars to '_' and cap length."""
    return F.substring(
        F.translate(col, _INVALID, "_" * len(_INVALID)), 1, max_len)


def zero_pad(col: Column, prefix: str = "", width: int = 3) -> Column:
    """``slide_{n:03d}``-style deterministic naming
    (`slides/extractor.py:337`)."""
    return F.format_string(f"{prefix}%0{width}d", col)


def ms_label(ms: Column) -> Column:
    """Unit formatting with branch (`animations/extractor.py:374-397`
    analog) — integer-only printf so engines agree byte-for-byte."""
    return (F.when(ms >= 100000,
                   F.format_string("%d s", (ms / 1000).cast("long")))
            .otherwise(F.format_string("%d ms", ms)))


def canonicalize_urls(df: DataFrame, url_col: str = "url",
                      out_col: str = "canon_url") -> DataFrame:
    from powerpoint_context_extractor_spark.operators.urltools import (
        canonical_url,
    )
    return df.withColumn(out_col, canonical_url(F.col(url_col)))


def test_text_helpers(spark):
    df = spark.createDataFrame(
        [('a<b>:c/d|e?f*g h.txt', 7, 1234.56, 99999, 'abc')],
        "name string, n int, money double, ms long, s string")
    row = df.select(
        sanitize_filename(F.col("name")).alias("san"),
        zero_pad(F.col("n"), "slide_").alias("pad"),
        entry_mod._CENTS("money").alias("c"),
        ms_label(F.col("ms")).alias("lab"),
        portable_hash(F.col("s")).alias("h"),
    ).collect()[0]
    assert row["san"] == "a_b__c_d_e_f_g_h.txt"
    assert row["pad"] == "slide_007"
    assert row["c"] == 123456
    assert row["lab"] == "99999 ms"
    assert row["h"] == 416005258  # verified == DuckDB twin in check_entry


def test_ms_label_branches(spark):
    df = spark.createDataFrame([(99999,), (100000,), (250000,)], "ms long")
    out = [r["lab"] for r in df.select(
        ms_label(F.col("ms")).alias("lab")).collect()]
    assert out == ["99999 ms", "100 s", "250 s"]


def test_sanitize_caps_length(spark):
    df = spark.createDataFrame([("x" * 300,)], "name string")
    assert len(df.select(sanitize_filename(F.col("name")).alias("s"))
               .collect()[0]["s"]) == 100


def test_artifact_sink_writes_named_payload_files(spark, tmp_path):
    """S6: the actual byte sink — deterministic zero-padded names,
    byte-identical payloads, idempotent rerun (reference
    slides/extractor.py:332-346)."""
    import hashlib
    from powerpoint_context_extractor_spark.sources.artifact_sink import (
        artifact_manifest,
    )
    rows = [(7, bytearray(b"payload-seven")), (42, bytearray(b"\x00\x01\xff"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = str(tmp_path / "artifacts")
    n = write_artifacts(df, out, prefix="doc")
    assert n == 2
    assert (tmp_path / "artifacts" / "doc_00007.bin").read_bytes() == b"payload-seven"
    assert (tmp_path / "artifacts" / "doc_00042.bin").read_bytes() == b"\x00\x01\xff"
    # manifest agrees with what landed on disk
    man = {r["filename"]: r for r in
           artifact_manifest(df, "doc_id", "payload", prefix="doc").collect()}
    for fn, r in man.items():
        data = (tmp_path / "artifacts" / fn).read_bytes()
        assert r["n_bytes"] == len(data)
        assert r["payload_sha"] == hashlib.sha256(data).hexdigest()
    # rerun rewrites the same bytes to the same paths (idempotent)
    write_artifacts(df, out, prefix="doc")
    assert sorted(p.name for p in (tmp_path / "artifacts").iterdir()) == [
        "doc_00007.bin", "doc_00042.bin"]


def test_canonical_url_edge_cases(spark):
    cases = [
        # (raw, expected canonical)
        ("HTTP://WWW.Example.COM:80/A/B?x=1#frag",
         "http://www.example.com/A/B?x=1"),
        ("https://Site.Org:443/", "https://site.org/"),
        ("https://site.org:8443/x", "https://site.org:8443/x"),  # real port
        ("http://h.io/p?utm_source=a&utm_medium=b&q=2",
         "http://h.io/p?q=2"),
        ("http://h.io/p?q=2&gclid=xyz", "http://h.io/p?q=2"),
        ("http://h.io/p?fbclid=1", "http://h.io/p"),
        ("http://h.io/p?utm_a=1&utm_b=2", "http://h.io/p"),
        ("http://h.io/CaseKept/Path", "http://h.io/CaseKept/Path"),
        ("http://h.io/p#only-frag", "http://h.io/p"),
    ]
    df = spark.createDataFrame([(i, r) for i, (r, _e) in enumerate(cases)],
                               "i long, url string")
    got = {r["i"]: r["canon_url"]
           for r in canonicalize_urls(df).collect()}
    for i, (_raw, exp) in enumerate(cases):
        assert got[i] == exp, (i, _raw, got[i], exp)


def test_registrable_domain_psl_rules(spark):
    """eTLD+1 (r4): longest listed suffix wins; unlisted TLD is its own
    suffix; bare suffixes and single labels come back unchanged."""
    from pyspark.sql import functions as F

    from powerpoint_context_extractor_spark.operators.urltools import (
        registrable_domain,
    )
    cases = {
        "www.bbc.co.uk": "bbc.co.uk",
        "news.bbc.co.uk": "bbc.co.uk",
        "example.com": "example.com",
        "deep.www.example.com": "example.com",
        "a.b.github.io": "b.github.io",
        "bucket.s3.amazonaws.com": "bucket.s3.amazonaws.com",
        "x.unknowntld": "x.unknowntld",
        "y.x.unknowntld": "x.unknowntld",
        "localhost": "localhost",
        "co.uk": "co.uk",                       # bare suffix
        "s3.amazonaws.com": "s3.amazonaws.com",  # bare 3-label suffix
        "sub.shop.com.au": "shop.com.au",
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {r["host"]: r["e"] for r in
           df.select("host", registrable_domain(F.col("host")).alias("e"))
           .collect()}
    assert got == cases


def test_normalize_nfc_composes_and_flags(spark):
    import hashlib
    import unicodedata

    from powerpoint_context_extractor_spark.operators.textstats import (
        normalize_nfc,
    )
    rows = [(0, "plain ascii"),
            (1, "café naïve"),
            (2, "Ångström"),
            (3, "ガパン"),
            (4, None)]
    out = {r["doc_id"]: r for r in normalize_nfc(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[0]["changed"] == 0 and out[0]["text_nfc"] == "plain ascii"
    for i in (1, 2, 3):
        src = rows[i][1]
        want = unicodedata.normalize("NFC", src)
        assert out[i]["changed"] == 1
        assert out[i]["text_nfc"] == want and out[i]["text_nfc"] != src
        assert hashlib.md5(want.encode()).hexdigest()  # sanity
    assert out[4]["text_nfc"] is None and out[4]["changed"] is None


def test_wds_shards_roundtrip_and_reproducible(spark, tmp_path):
    """r6: the WebDataset tar sink round-trips unicode text exactly,
    and two independent writes produce BYTE-identical shards (zeroed
    tar metadata + deterministic member order) — the property that
    makes shards cacheable/resumable training inputs."""
    import os

    from powerpoint_context_extractor_spark.sources.wds import (
        read_wds_shards, write_wds_shards,
    )
    rows = [(i, f"doc {i} é中文 text") for i in range(37)]
    rows.append((99, ""))                     # empty text survives
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_wds_shards(docs, d1, n_shards=3)
    write_wds_shards(docs, d2, n_shards=3)
    got = {r["doc_id"]: (r["text"], r["shard"])
           for r in read_wds_shards(spark, d1).collect()}
    assert len(got) == 38
    for i, t in rows:
        assert got[i][0] == t
    shards = sorted(os.listdir(d1))
    assert shards == sorted(os.listdir(d2)) and len(shards) <= 3
    for f in shards:
        a = open(os.path.join(d1, f), "rb").read()
        b = open(os.path.join(d2, f), "rb").read()
        assert a == b and len(a) > 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_shards"):
        write_wds_shards(docs, str(tmp_path / "c"), n_shards=0)
    with _pytest.raises(ValueError, match="no .tar"):
        read_wds_shards(spark, str(tmp_path))
    # a tar that is not a shard fails on the driver, naming the file,
    # instead of failing the Spark job inside a worker
    assert {s for _, s in got.values()} == {int(f[6:11]) for f in shards}
    with open(os.path.join(d1, "notes.tar"), "wb") as f:
        f.write(b"\0" * 1024)
    with _pytest.raises(ValueError, match="notes.tar"):
        read_wds_shards(spark, d1).collect()
