"""Semantic tests for dedup / similarity / textstats / multimodal
operators (the oracle parity itself is covered by scripts/check_entry.py
and the driver's CORRECTNESS gate; these pin intended behavior)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from powerpoint_context_extractor_spark.operators import (
    dedup, multimodal, similarity, textstats,
)


# -- helpers only these tests use ---------------------------------------

def exact_dedup(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Hash-groupBy exact dedup: one combiner-friendly shuffle."""
    return (docs.groupBy(F.sha2(F.col(text_col), 256).alias("text_sha"))
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count(F.lit(1)).alias("dup_count")))


def png_channels_for_doc(doc_id: int) -> int:
    """DECODED channel count under ``multimodal.png_payload_for_doc``'s
    doc_id % 4 rule: 0 -> grayscale (1), 1 -> RGB truecolor (3),
    2 -> indexed palette (decodes to RGB, 3), 3 -> RGBA (4)."""
    k = doc_id % 4
    return 1 if k == 0 else (4 if k == 3 else 3)


def jpeg_reconstructed_value(v: int) -> int:
    """The decoded pixel of a constant block of value ``v`` under the
    frozen Annex-K table (q00 = 16): DC = half-away(64*(v-128)/128),
    pixel = clamp(2*DC + 128). Mirrored verbatim in the SQL oracle."""
    from powerpoint_context_extractor_spark.jpeg import QTABLE
    s = 64 * (v - 128)
    d = 8 * QTABLE[0]
    dcq = (2 * abs(s) + d) // (2 * d)
    dcq = dcq if s >= 0 else -dcq
    rec = (QTABLE[0] * dcq) // 8 + 128
    return 0 if rec < 0 else (255 if rec > 255 else rec)


def jpeg_color_reconstructed_rgb(doc_id: int, m: int) -> tuple:
    """Analytic decode of MCU m: rgb -> frozen integer YCbCr ->
    DC-quantized channel reconstruction (``jpeg_reconstructed_value``,
    the same q00=16 seam as the gray contract) -> frozen inverse
    conversion. Mirrored verbatim in the SQL oracle."""
    from powerpoint_context_extractor_spark.jpeg import (
        rgb_from_ycbcr, ycbcr_from_rgb,
    )
    y, cb, cr = ycbcr_from_rgb(*multimodal.jpeg_color_mcu_rgb(doc_id, m))
    return rgb_from_ycbcr(jpeg_reconstructed_value(y),
                          jpeg_reconstructed_value(cb),
                          jpeg_reconstructed_value(cr))


def hll_estimate(registers: dict, p: int = 8) -> float:
    """Classic HLL estimate from a {register: max_rho} dict (small-
    range linear-counting correction included)."""
    import math
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    s = sum(2.0 ** -registers.get(r, 0) for r in range(m))
    est = alpha * m * m / s
    if est <= 2.5 * m:
        zeros = m - len([r for r in registers if registers[r] > 0])
        if zeros:
            est = m * math.log(m / zeros)
    return est


def count_min_estimate(cells: dict, key: str, w: int = 256,
                       d: int = 4) -> int:
    """Point estimate from a {(row, col): cnt} dict: the min over the
    key's d cells, on the same md5 seam as ``count_min_sketch``."""
    import hashlib
    est = None
    for j in range(d):
        h = int(hashlib.md5(f"cm{j}|{key}".encode()).hexdigest()[:8],
                16) % w
        c = cells.get((j, h), 0)
        est = c if est is None else min(est, c)
    return est or 0


def surt_key(col):
    """Column expression: SURT urlkey of a URL, the Spark twin of
    ``urltools.surt_key_py``."""
    host = F.regexp_replace(
        F.lower(F.regexp_extract(
            col, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)),
        r"^www\.", "")
    rest = F.regexp_replace(col, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    return F.concat(rev, F.lit(")"), rest)


def fetch_cdx_record(warc_dir: str, filename: str, offset: int,
                     length: int) -> tuple:
    """Ranged fetch through a CDX entry: read ONLY [offset, offset+
    length) of the named file, inflate that single member, parse the
    one record."""
    import os
    import zlib

    from powerpoint_context_extractor_spark.sources.warc import _parse_plain
    with open(os.path.join(warc_dir, filename), "rb") as f:
        f.seek(offset)
        member = f.read(length)
    recs = list(_parse_plain(zlib.decompress(member, 31)))
    if len(recs) != 1:
        raise ValueError(f"cdx: span holds {len(recs)} records, not 1")
    return recs[0]


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and later"),
        (3, "completely different content about spark shuffles and arrow"),
        (4, "el rapido zorro marron salta sobre el perro"),
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = {r["canonical_id"]: r["dup_count"]
           for r in exact_dedup(docs).collect()}
    assert out[0] == 2          # docs 0,1 identical
    assert out[2] == 1 and out[3] == 1


def test_minhash_lsh_finds_near_dups(spark, docs):
    # planted high-jaccard near-dup: long doc + 3 appended tokens
    # (same construction as the contract query; LSH recall at this
    # similarity is reliable with 2 bands x 4 rows)
    long_doc = " ".join(f"tok{i}" for i in range(50))
    extra = spark.createDataFrame(
        [(10, long_doc), (11, long_doc + " zz zz zz")],
        "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["jaccard_bp"]
             for r in dedup.minhash_lsh_dedup(
                 docs.unionByName(extra), threshold_bp=5000).collect()}
    assert pairs[(0, 1)] == 10000                      # identical pair
    assert 9000 <= pairs[(10, 11)] < 10000             # planted near-dup
    assert all({3, 4}.isdisjoint(p) for p in pairs)    # unrelated stay out


def test_lsh_bucket_cap_bounds_degenerate_bucket(spark):
    """10k byte-identical docs (mass-duplicated boilerplate): capped
    LSH must emit exactly n-1 star pairs around the min id, not the
    ~5*10^7 all-pairs blowup."""
    n = 10_000
    ident = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated on every page of the "
              "site footer with enough tokens to shingle").alias("text"))
    sigs = dedup.minhash_signatures(ident)
    cands = dedup.lsh_candidate_pairs(sigs, max_bucket=64)
    rows = cands.collect()
    assert len(rows) == n - 1
    assert all(r["id_a"] == 0 for r in rows)          # star around min id
    pairs = dedup.minhash_lsh_dedup(ident, max_bucket=64).collect()
    assert len(pairs) == n - 1                         # all verify at 10000
    assert all(r["jaccard_bp"] == 10000 for r in pairs)


def test_simhash_identical_docs_zero_hamming(docs):
    h = {r["doc_id"]: r["hamming"]
         for r in dedup.simhash_hamming_to_query(docs, 0).collect()}
    assert h[0] == 0 and h[1] == 0
    assert h[3] > h[2] > 0     # more different text -> larger distance


def test_ngram_jaccard_bounds(docs):
    j = {r["doc_id"]: r["jaccard_bp"]
         for r in dedup.ngram_jaccard_to_query(docs, 0).collect()}
    assert j[0] == 10000 and j[1] == 10000
    assert 0 < j[2] < 10000 and j[3] == 0


@pytest.fixture(scope="module")
def embs(spark):
    rows = [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]), (3, [-1.0, 0.0, 0.0]),
            (4, [0.9, 0.0, 0.1]), (5, [0.0, 0.0, 1.0]),
            (6, [0.5, 0.5, 0.0]), (7, [0.1, 0.9, 0.0]),
            (8, [0.99, 0.01, 0.0])]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_orders_by_similarity(embs):
    top = [r["vec_id"] for r in similarity.cosine_topk(embs, 0, k=4).collect()]
    assert top[0] == 0                      # self first
    assert set(top) <= {0, 1, 4, 8, 6}
    cos = {r["vec_id"]: r["cos_micro"]
           for r in similarity.cosine_to_query(embs, 0).collect()}
    assert cos[0] == 1_000_000 and cos[3] == -1_000_000 and cos[2] == 0


def test_ivf_topk_stays_in_query_cell(embs):
    out = similarity.ivf_topk(embs, 0, k=5, n_centroids=3).collect()
    ids = [r["vec_id"] for r in out]
    assert 0 in ids                         # query always in its own cell
    # vectors clearly nearest centroid 2 ([0,1,0]) are pruned away
    assert 2 not in ids and 7 not in ids


def test_lang_id_and_quality(docs):
    pred = {r["doc_id"]: r["pred_lang"]
            for r in textstats.lang_id(docs).collect()}
    assert pred[0] == "en" and pred[4] == "es"
    q = {r["doc_id"]: r for r in textstats.quality_score(docs).collect()}
    assert q[0]["n_tokens"] == 12
    assert q[0]["stop_bp"] > 0


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta alpha"), (2, "alpha beta")],
        "doc_id long, text string")
    fp = {r["doc_id"]: r["fp"] for r in textstats.fingerprint(df).collect()}
    assert fp[0] == fp[2] != fp[1]


def test_salted_agg_equals_plain(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    salted = {tuple(r) for r in textstats.host_stats_salted(ev).collect()}
    plain = {tuple(r) for r in
             ev.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.round(F.col("value") * 100).cast("long"))
                  .alias("value_cents")).collect()}
    assert salted == plain


def test_approx_stats_within_tolerance_of_exact(spark, sf_dir):
    """The sketch aggregates (approx_count_distinct / percentile_approx)
    are engine-specific, so they are graded indirectly: pinned here
    against the exact twin (a_exact_stats, DuckDB-oracled) under
    tolerance."""
    import __spark_entry__ as entry_mod
    approx = {r["event_type"]: r
              for r in entry_mod._a_approx_stats(spark, sf_dir).collect()}
    exact = {r["event_type"]: r
             for r in entry_mod._a_exact_stats(spark, sf_dir).collect()}
    assert approx.keys() == exact.keys()
    for et, ex in exact.items():
        ap = approx[et]
        # HLL++ default rsd = 0.05; allow 3x margin
        assert abs(ap["approx_users"] - ex["n_users"]) <= 0.15 * ex["n_users"]
        # percentile_approx returns an actual data value; compare in
        # cents against the interpolated exact value (x100 scale)
        assert abs(ap["p50"] * 10000 - ex["p50_cents_x100"]) <= 0.1 * abs(ex["p50_cents_x100"])
        assert abs(ap["p95"] * 10000 - ex["p95_cents_x100"]) <= 0.1 * abs(ex["p95_cents_x100"])


def test_multimodal_stub_plumbing(spark):
    from powerpoint_context_extractor_spark.kernel import render_wdoc
    rows = [(0, bytearray(render_wdoc([("p", 0, 0, "x")]))),
            (1, bytearray(b"\x89PNG\r\n fake")),
            (2, bytearray(b""))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in multimodal.extract_features(df).collect()}
    assert out[0]["kind"] == "wdoc"
    # corrupt PNG magic: routed to the REAL decoder since r3 -> error row
    assert out[1]["kind"] == "png" and out[1]["error"] is not None
    assert out[2]["error"] is not None and out[2]["features"] is None
    meta = {r["doc_id"]: r for r in
            multimodal.binary_meta(df, "doc_id", "payload").collect()}
    assert meta[1]["magic_hex"] == "89504e47"
    assert meta[0]["n_bytes"] > 0


def test_document_text_never_magic(spark, sf_dir):
    """r5 ADVICE #3: mm_features feeds document TEXT bytes through
    _kind_of and its DuckDB oracle hardcodes kind='unknown' for every
    row — so no fixture text may start with a recognizable magic
    prefix. The ASCII-typable ones ('RIFF', '%PDF', '%WDO') are the
    realistic hazards; binary magics (PNG/JPEG) can't occur in text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql import functions as F
    hits = docs.filter(
        F.substring("text", 1, 4).isin("RIFF", "%PDF", "%WDO",
                                       "GIF8", "fLaC")).count()
    assert hits == 0, f"{hits} document texts start with a magic prefix"


def test_ivf_index_partition_pruning(spark, sf_dir, tmp_path):
    """The materialized IVF index must actually prune: the probe's scan
    touches only the nprobe nearest k-means cells' partition
    directories, and results equal the in-memory k-means multi-probe
    (r4 VERDICT #6: the layout is the TRAINED clustering, so the
    indexed path and the recall-measured path are the same cells)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx_dir = str(tmp_path / "ivf")
    similarity.ivf_build_index(emb, idx_dir)
    out = similarity.ivf_topk_indexed(spark, idx_dir, 0)
    rows = out.collect()
    baseline = similarity.ivf_topk_kmeans(emb, 0, nprobe=2).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in baseline]
    # plan audit: the literal cluster predicate must reach the scan as
    # a PartitionFilter (directory-level pruning, not a post-scan
    # filter); inputFiles() can't show this — read the physical plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "cluster" in m.group(1), m.group(1)
    # index cells are the k-means cells (sidecar centroids persisted)
    import json
    import os
    with open(os.path.join(idx_dir, "_centroids.json")) as f:
        cents = json.load(f)
    assert cents == similarity.kmeans_centroids(emb)
    # r4 ADVICE #4: the query-vector fetch is pruned too — its cell
    # comes from the _assign sidecar and the (cluster, id) fetch plan
    # carries a cluster PartitionFilter, not a full-index scan
    from pyspark.sql import functions as F
    asg = spark.read.parquet(os.path.join(idx_dir, "_assign"))
    qc = int(asg.filter(F.col("vec_id") == 0).head()["cluster"])
    fetch = (spark.read.parquet(idx_dir)
             .filter((F.col("cluster") == qc) & (F.col("vec_id") == 0)))
    fplan = fetch._jdf.queryExecution().executedPlan().toString()
    fm = re.search(r"PartitionFilters: \[([^\]]*)\]", fplan)
    assert fm and "cluster" in fm.group(1), fplan
    idx_assign = {r["vec_id"]: r["cluster"]
                  for r in spark.read.parquet(idx_dir)
                  .select("vec_id", "cluster").collect()}
    km_assign = {r["vec_id"]: r["cluster"]
                 for r in similarity.kmeans_assign(emb).collect()}
    assert idx_assign == km_assign


def test_quantize_int8_codec(spark):
    """Symmetric int8 codec edges: max component maps to ±127, zero
    vector -> zeros with scale 0, |q| <= 127 always."""
    rows = [(0, [1.0, -0.5, 0.25, 0.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [-2.0, 1.0, 0.5, -0.25])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in similarity.quantize_int8(df).collect()}
    assert out[0]["q_csv"] == "127,-64,32,0"       # round(0.5*127)=64 HALF_UP
    assert out[0]["scale_micro"] == 1_000_000
    assert out[1]["q_csv"] == "0,0,0,0" and out[1]["scale_micro"] == 0
    assert out[2]["q_csv"] == "-127,64,32,-16"
    for r in out.values():
        assert all(abs(int(x)) <= 127 for x in r["q_csv"].split(","))


def test_quantized_topk_recall_vs_float(spark, sf_dir):
    """Quantized serving quality: int8-cosine top-10 for query 0 keeps
    high overlap with the float top-10 (the codec's whole point), and
    scores stay within quantization error of the float scores."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qt = similarity.quantized_topk(emb, 0).collect()
    ft = similarity.cosine_topk(emb, 0, k=10).collect()
    q_ids = {r["vec_id"] for r in qt}
    f_ids = {r["vec_id"] for r in ft}
    assert len(q_ids & f_ids) >= 8          # recall@10 >= 0.8
    assert next(r for r in qt if r["vec_id"] == 0)["qcos_micro"] == 1_000_000


def test_sim_ivf_recall_skips_absent_qids(spark, sf_dir, tmp_path):
    """ADVICE r3: at scale factors where the embeddings table has fewer
    rows than the largest recall qid, the query degrades to the present
    qids (like the oracle's IN-list) instead of raising KeyError."""
    import sys
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .filter("vec_id < 100"))
    emb.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = entry._sim_ivf_recall(spark, str(tmp_path))
    qids = sorted(r["query_id"] for r in out.collect())
    assert qids == [q for q in entry._RECALL_QIDS if q < 100]


def test_near_dup_clusters_connected_components(spark):
    """Hand graph: {0-1, 1-2} chain + {5-6} pair + isolated 9 — labels
    must reach the transitive min, not just the direct neighbor."""
    ids = spark.createDataFrame([(i,) for i in (0, 1, 2, 5, 6, 9)],
                                "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (0, 1), (5, 6)],
                                  "id_a long, id_b long")
    out = {r["doc_id"]: r["cluster"]
           for r in dedup.near_dup_clusters(ids, pairs).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 9: 9}


def test_near_dup_clusters_long_chain_converges(spark):
    """A 50-link chain (diameter 50 > default max_iter=20): before r3,
    min-label propagation silently returned partial labels here —
    pointer jumping must reach the fixpoint in O(log n) rounds."""
    n = 51
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a long, id_b long")
    out = {r["doc_id"]: r["cluster"]
           for r in dedup.near_dup_clusters(ids, pairs).collect()}
    assert out == {i: 0 for i in range(n)}


def test_near_dup_clusters_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir configured (the cluster deployment shape)
    the loop truncates lineage via reliable checkpoint() — same labels,
    and checkpoint files actually land in the dir."""
    import os
    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    try:
        ids = spark.createDataFrame([(i,) for i in (0, 1, 2, 5, 6, 9)],
                                    "doc_id long")
        pairs = spark.createDataFrame([(1, 2), (0, 1), (5, 6)],
                                      "id_a long, id_b long")
        out = {r["doc_id"]: r["cluster"]
               for r in dedup.near_dup_clusters(ids, pairs).collect()}
        assert out == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 9: 9}
        assert any(files for _d, _s, files in os.walk(ckpt))
    finally:
        getattr(spark._jsc.sc(), "checkpointDir_$eq")(
            spark._jvm.scala.Option.apply(None))


def test_near_dup_clusters_raises_instead_of_partial_labels(spark):
    """Exhausting max_iter without a fixpoint must raise, never return
    silently-wrong cluster labels (r2 VERDICT 'what's wrong' #1)."""
    n = 40
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.near_dup_clusters(ids, pairs, max_iter=2)


# ---- PNG subset codec (real multimodal decode path, r3) ----

def test_png_roundtrip_all_filters():
    from powerpoint_context_extractor_spark.png import decode_png, render_png
    w, h = 7, 9
    for ch in (1, 3, 4):                      # gray, RGB (r4), RGBA (r6)
        px = bytes((i * 37 + 11) % 256 for i in range(w * h * ch))
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            raw = render_png(w, h, px, row_filters=filters, channels=ch)
            assert decode_png(raw) == (w, h, ch, px), (ch, filters)
    # indexed palette (r5): indices roundtrip through PLTE expansion
    pal = [(j, (j * 2) % 256, (j * 3) % 256) for j in range(5)]
    idx = bytes((i * 7 + 2) % 5 for i in range(w * h))
    want = bytes(pal[p][c] for p in idx for c in range(3))
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        raw = render_png(w, h, idx, row_filters=filters, palette=pal)
        assert decode_png(raw) == (w, h, 3, want), filters


def test_png_rejects_corruption_and_unsupported():
    import pytest as _pytest
    import struct as _struct
    from powerpoint_context_extractor_spark.png import decode_png, render_png
    raw = bytearray(render_png(2, 2, b"\x01\x02\x03\x04"))
    raw[20] ^= 0xFF                       # flip an IHDR byte -> CRC fails
    with _pytest.raises(ValueError, match="crc|unsupported"):
        decode_png(bytes(raw))
    with _pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png")
    # palette color type (3) without a PLTE chunk is invalid (r5: the
    # type itself is now in the subset)
    good = render_png(2, 2, b"\x01\x02\x03\x04")
    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    import zlib as _zlib
    chunk = (_struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
             + _struct.pack(">I", _zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF))
    bad = good[:8] + chunk + good[8 + 12 + 13:]
    with _pytest.raises(ValueError, match="missing PLTE"):
        decode_png(bad)
    # palette index outside the PLTE is rejected at render time
    with _pytest.raises(ValueError, match="outside palette"):
        render_png(2, 1, b"\x00\x05", palette=[(1, 2, 3), (4, 5, 6)])
    # 16-bit depth is IN the subset since r6 — splicing a 16-bit IHDR
    # onto 8-bit-sized scanlines now fails the length check, not the
    # format gate
    ihdr16 = _struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    chunk16 = (_struct.pack(">I", len(ihdr16)) + b"IHDR" + ihdr16
               + _struct.pack(">I", _zlib.crc32(b"IHDR" + ihdr16) & 0xFFFFFFFF))
    bad16 = good[:8] + chunk16 + good[8 + 12 + 13:]
    with _pytest.raises(ValueError, match="scanline"):
        decode_png(bad16)
    # ... while INTERLACED 16-bit stays an honest subset error
    ihdr16i = _struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 1)
    chunk16i = (_struct.pack(">I", len(ihdr16i)) + b"IHDR" + ihdr16i
                + _struct.pack(">I",
                               _zlib.crc32(b"IHDR" + ihdr16i)
                               & 0xFFFFFFFF))
    with _pytest.raises(ValueError, match="16-bit subset"):
        decode_png(good[:8] + chunk16i + good[8 + 12 + 13:])


def test_png_feature_kind_routed_through_real_decoder(spark):
    from powerpoint_context_extractor_spark.operators import multimodal as mm
    # doc_id % 4 rule (r6): 8 -> gray, 5 -> RGB, 6 -> palette, 7 -> RGBA
    rows = [(d, bytearray(mm.png_payload_for_doc(d))) for d in (5, 6, 7, 8)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in mm.extract_features(df).collect()}
    w, h = mm.PNG_W, mm.PNG_H
    for d in (5, 7, 8):
        ch = png_channels_for_doc(d)
        row = got[d]
        assert row["kind"] == "png" and row["error"] is None
        px = [(d * 31 + i) % 256 for i in range(w * h * ch)]
        assert row["features"] == [float(w), float(h), float(ch),
                                   float(sum(px) % 997),
                                   float(min(px)), float(max(px))]
    # palette doc: decoded bytes come from PLTE expansion
    px6 = [mm.PNG_PALETTE[(6 * 31 + j) % 16][c]
           for j in range(w * h) for c in range(3)]
    assert got[6]["features"] == [float(w), float(h), 3.0,
                                  float(sum(px6) % 997),
                                  float(min(px6)), float(max(px6))]


def test_avi_roundtrip_and_subset_errors():
    """r5 uncompressed-DIB AVI codec: frames round-trip through the
    real DIB layout (BGR, bottom-up, stride padding — 6px width pads
    18 -> 20 bytes); compressed frames and non-AVI RIFF raise."""
    import struct as _struct

    import pytest as _pytest

    from powerpoint_context_extractor_spark.avi import decode_avi, render_avi
    w, h = 6, 4
    frames = [bytes((f * 31 + i * 7) % 256 for i in range(w * h * 3))
              for f in range(3)]
    raw = render_avi(w, h, frames, fps=10)
    assert decode_avi(raw) == (w, h, 10, frames)
    with _pytest.raises(ValueError, match="RIFF/AVI"):
        decode_avi(b"RIFF" + _struct.pack("<I", 4) + b"WAVE")
    with _pytest.raises(ValueError, match="truncated"):
        decode_avi(raw[:-10])
    # a compressed-frame chunk id is an explicit subset error
    comp = raw.replace(b"00db", b"00dc", 1)
    with _pytest.raises(ValueError, match="unsupported"):
        decode_avi(comp)


def test_wav_adpcm_roundtrip_and_subset_errors():
    """r6 IMA ADPCM: the container round-trips through the real block
    layout (int16 predictor header, low-nibble-first packing); the
    decoded trajectory tracks the input within the codec's step
    resolution; clamps and index saturation hold under full-scale
    swings; subset errors stay honest."""
    import pytest as _pytest

    from powerpoint_context_extractor_spark.wav import (
        adpcm_decode_block, adpcm_encode_block, decode_wav, render_wav,
    )

    s = [((11 * 73 + i * 29) % 4001) - 2000 for i in range(64)]
    raw = render_wav(s, sample_rate=8000, encoding="adpcm")
    rate, ch, dec = decode_wav(raw)
    assert (rate, ch, len(dec)) == (8000, 1, 64)
    assert dec == adpcm_decode_block(adpcm_encode_block(s), 64)
    assert dec[0] == s[0]                       # header sample verbatim
    assert max(abs(a - b) for a, b in zip(dec, s)) < 64  # tracks input

    # full-scale alternation saturates the step index and hits clamps
    swing = [(-1) ** i * min(32767, i * 1000) for i in range(64)]
    d = adpcm_decode_block(adpcm_encode_block(swing), 64)
    assert all(-32768 <= v <= 32767 for v in d)

    with _pytest.raises(ValueError, match="mono"):
        render_wav(s, sample_rate=8000, channels=2, encoding="adpcm")
    with _pytest.raises(ValueError, match="short block"):
        adpcm_decode_block(b"\x00\x00", 4)
    with _pytest.raises(ValueError, match="too short"):
        adpcm_decode_block(b"\x00\x00\x00\x00\x12", 64)
    # odd data tail -> not whole blocks
    with _pytest.raises(ValueError, match="whole blocks"):
        decode_wav(raw.replace(b"data" + (36).to_bytes(4, "little"),
                               b"data" + (35).to_bytes(4, "little")))


def test_mm_wav_adpcm_matches_python_state_machine(spark):
    """The Spark ADPCM decode query equals the pure-Python state
    machine (which the DuckDB recursive-CTE oracle replays)."""
    from powerpoint_context_extractor_spark.operators import multimodal as mm
    from powerpoint_context_extractor_spark.wav import decode_wav
    docs = spark.createDataFrame([(2,), (77,)], "doc_id long")
    got = {r["doc_id"]: r
           for r in mm.extract_wav_adpcm_features(docs).collect()}
    for doc_id in (2, 77):
        _rate, _ch, samples = decode_wav(mm.wav_adpcm_payload_for_doc(doc_id))
        r = got[doc_id]
        assert (r["n_samples"], r["abs_sum"], r["s_min"], r["s_max"]) == (
            64, sum(abs(v) for v in samples), min(samples), max(samples))


def test_flac_roundtrip_and_integrity():
    """r6: FLAC codec contract — bit-exact roundtrip across channel/
    bps/blocksize/signal shapes (constant, random = verbatim-ish
    residuals, smooth = small rice residuals), multi-byte UTF-8 frame
    numbers, CRC / MD5 integrity rejection, and honest subset errors
    (LPC-free encoder, range checks)."""
    import random

    from powerpoint_context_extractor_spark.flac import (
        decode_flac, render_flac,
    )
    rng = random.Random(5)
    for ch in (1, 2):
        for bps in (8, 16, 24):
            lim = 1 << (bps - 1)
            for shape in ("const", "rand", "smooth"):
                if shape == "const":
                    samples = [5 % lim] * (40 * ch)
                elif shape == "rand":
                    samples = [rng.randrange(-lim, lim)
                               for _ in range(40 * ch)]
                else:
                    samples, v = [], 0
                    for _ in range(40 * ch):
                        v = max(-lim, min(lim - 1,
                                          v + rng.randrange(-30, 31)))
                        samples.append(v)
                data = render_flac(samples, sample_rate=44100,
                                   channels=ch, bps=bps, block_size=16)
                rate, oc, out = decode_flac(data)
                assert (rate, oc) == (44100, ch)
                assert out == samples, (ch, bps, shape)
    # >128 frames forces a 2-byte UTF-8 frame number
    long = [(i * 7) % 2000 - 1000 for i in range(140 * 16)]
    assert decode_flac(render_flac(long, block_size=16))[2] == long
    # LPC + all three stereo decorrelations roundtrip bit-exactly,
    # incl. full-scale samples (side channel needs bps+1 bits)
    ext = [-32768, 32767] * 40 + [rng.randrange(-32768, 32768)
                                  for _ in range(80)]
    for mode in ("left_side", "right_side", "mid_side"):
        for lpc in (False, True):
            data = render_flac(ext, channels=2, block_size=16,
                               use_lpc=lpc, stereo_mode=mode)
            assert decode_flac(data)[2] == ext, (mode, lpc)
    with pytest.raises(ValueError, match="stereo"):
        render_flac([0] * 4, channels=1, stereo_mode="mid_side")
    # integrity: corrupt a mid-stream byte -> CRC or MD5 must reject
    data = bytearray(render_flac([(i * 3) % 500 - 250
                                  for i in range(200)]))
    data[len(data) // 2] ^= 0x40
    with pytest.raises(ValueError):
        decode_flac(bytes(data))
    with pytest.raises(ValueError, match="signature"):
        decode_flac(b"fLaX" + bytes(30))
    with pytest.raises(ValueError, match="range"):
        render_flac([1 << 20], bps=16)
    with pytest.raises(ValueError, match="channels"):
        render_flac([0, 0, 0], channels=3)
    # VARIABLE-blocksize streams (r7): uneven frame sizes roundtrip
    # bit-exactly in every stereo/LPC mode, the frame varint carries
    # the starting sample (pinned by the out-of-sequence check), and
    # bad size lists are rejected
    mono = [(i * 13) % 2000 - 1000 for i in range(130)]
    for sizes in ([16, 32, 7, 75], [1, 129], [130]):
        vb = render_flac(mono, block_sizes=sizes)
        assert decode_flac(vb) == (8000, 1, mono), sizes
    st2 = (ext * 2)[:256]
    for mode in ("left_side", "mid_side"):
        vb = render_flac(st2, channels=2, stereo_mode=mode,
                         use_lpc=True, block_sizes=[16, 48, 64])
        assert decode_flac(vb)[2] == st2, mode
    for bad in ([16], [0, 130], []):
        with pytest.raises(ValueError, match="block_sizes"):
            render_flac(mono, block_sizes=bad)
    # out-of-sequence frame number: splice frame 2's varint (a fixed
    # 16-frame stream numbers frames 0..; patch one header's varint
    # byte from 1 -> 3 and recompute nothing -> CRC-8 catches it; to
    # hit the SEQUENCE check itself, re-encode frame numbers shifted
    # via block_sizes misuse is impossible — so pin it through the
    # decoder directly on a hand-spliced stream
    fixed = bytearray(render_flac(mono[:32], block_size=16))
    # locate both frames' syncs (0xFF 0xF8) and swap the frames
    i = fixed.find(b"\xff\xf8")
    j = fixed.find(b"\xff\xf8", i + 2)
    assert 0 < i < j
    swapped = bytes(fixed[:i]) + bytes(fixed[j:]) + bytes(fixed[i:j])
    with pytest.raises(ValueError):
        decode_flac(swapped)


def test_flac_kind_routed_through_real_decoder(spark):
    """r6: the generic mm_features path classifies FLAC by magic and
    decodes for real; a corrupt stream becomes an honest error row."""
    from powerpoint_context_extractor_spark.operators.multimodal import (
        extract_features, flac_payload_for_doc, flac_samples_for_doc,
    )
    good = flac_payload_for_doc(9)
    bad = bytearray(good)
    bad[len(bad) - 5] ^= 0x11
    rows = extract_features(spark.createDataFrame(
        [(9, bytearray(good)), (10, bad)],
        "doc_id long, payload binary")).collect()
    by_id = {r["doc_id"]: r for r in rows}
    s = flac_samples_for_doc(9)
    assert by_id[9]["kind"] == "flac" and by_id[9]["error"] is None
    assert by_id[9]["features"] == [64.0, 8000.0, 8.0,
                                    float(sum(abs(v) for v in s) % 997),
                                    float(min(s)), float(max(s))]
    assert by_id[10]["kind"] == "flac" and by_id[10]["error"] is not None


def test_png_sub8bit_depths_roundtrip():
    """r6: depth-1/2/4 PNGs — filters run over the PACKED bytes,
    samples unpack MSB-first, gray scales by bit replication
    (255/85/17), palette indices expand unscaled; odd widths exercise
    row-end padding; sub-8-bit interlace and out-of-range samples
    raise."""
    import random

    from powerpoint_context_extractor_spark.png import (
        decode_png, render_png,
    )
    rng = random.Random(21)
    pal16 = [((j * 37) % 256, (j * 59) % 256, (j * 83) % 256)
             for j in range(16)]
    for d in (1, 2, 4):
        scale = 255 // ((1 << d) - 1)
        for w, h in ((1, 1), (7, 3), (16, 8), (23, 5)):
            px = bytes(rng.randrange(1 << d) for _ in range(w * h))
            out = decode_png(render_png(
                w, h, px, row_filters=[0, 1, 2, 3, 4], bit_depth=d))
            assert out == (w, h, 1, bytes(s * scale for s in px)), (d, w)
            pout = decode_png(render_png(
                w, h, px, row_filters=[0, 1, 2, 3, 4],
                palette=pal16[:1 << d], bit_depth=d))
            want = b"".join(bytes(pal16[v]) for v in px)
            assert pout == (w, h, 3, want), (d, w, "palette")
    # 16-bit gray/RGB/RGBA: BE sample pairs, bpp=2*ch filters,
    # full-precision int decode
    for ch in (1, 3, 4):
        px16 = [rng.randrange(65536) for _ in range(7 * 3 * ch)]
        out16 = decode_png(render_png(7, 3, px16,
                                      row_filters=[0, 1, 2, 3, 4],
                                      channels=ch, bit_depth=16))
        assert out16 == (7, 3, ch, px16), ch
    with pytest.raises(ValueError, match="range"):
        render_png(4, 4, bytes([4] * 16), bit_depth=2)
    with pytest.raises(ValueError, match="bit depth"):
        render_png(4, 4, bytes(16), bit_depth=3)
    with pytest.raises(ValueError, match="palette"):
        render_png(2, 2, [0] * 4, palette=[(0, 0, 0)], bit_depth=16)
    # hand-build an interlaced sub-8-bit header -> honest subset error
    import struct
    import zlib as _z
    ihdr = struct.pack(">IIBBBBB", 4, 4, 2, 0, 0, 0, 1)
    sig = b"\x89PNG\r\n\x1a\n"
    chunk = (struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
             + struct.pack(">I", _z.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF))
    with pytest.raises(ValueError, match="sub-8-bit"):
        decode_png(sig + chunk)


def test_mp3_probe_headers_and_honest_errors():
    """r6: the MP3 probe walks ID3v2 + VBR frame headers exactly
    (padding bit, bitrate/rate tables) and raises honestly on free
    bitrate, non-MPEG1-LayerIII, lost sync, and truncation — it never
    pretends to decode audio."""
    from powerpoint_context_extractor_spark.mp3probe import (
        build_mp3, probe_mp3,
    )
    data = build_mp3([64, 320, 32], sample_rate=48000, id3_size=37)
    assert probe_mp3(data) == (3, 48000, 32, 320, 3 * 1152 * 1000
                               // 48000)
    with pytest.raises(ValueError, match="free/invalid"):
        probe_mp3(b"\xff\xfb\x00\x00")
    with pytest.raises(ValueError, match="subset"):
        probe_mp3(b"\xff\xf3\x90\x00" + bytes(400))   # MPEG-2
    with pytest.raises(ValueError, match="sync"):
        probe_mp3(build_mp3([64]) + b"junk")
    with pytest.raises(ValueError, match="truncated"):
        probe_mp3(build_mp3([128])[:-5])


def test_bmp_roundtrip_and_magic_guard():
    """r6: BMP roundtrip (BGR/bottom-up/stride), top-down negative-
    height variant decodes, subset errors, and the strict 2-byte
    magic guard: a text starting 'BM' does NOT classify as bmp."""
    import random
    import struct

    from powerpoint_context_extractor_spark.avi import (
        decode_bmp, render_bmp,
    )
    from powerpoint_context_extractor_spark.operators.multimodal import (
        _kind_of,
    )
    rng = random.Random(43)
    for w, h in ((1, 1), (5, 3), (16, 8)):
        px = bytes(rng.randrange(256) for _ in range(w * h * 3))
        data = render_bmp(w, h, px)
        assert _kind_of(data) == "bmp"
        assert decode_bmp(data) == (w, h, 3, px)
    # negative height = top-down storage: flip the height field on a
    # 1-row image (row order is then identical)
    one = render_bmp(4, 1, bytes(range(12)))
    td = bytearray(one)
    td[22:26] = struct.pack("<i", -1)
    assert decode_bmp(bytes(td)) == (4, 1, 3, bytes(range(12)))
    assert _kind_of(b"BMw tied the ribbon " + bytes(40)) == "unknown"
    with pytest.raises(ValueError, match="subset"):
        bad = bytearray(render_bmp(2, 2, bytes(12)))
        bad[28] = 8                           # bpp 8
        decode_bmp(bytes(bad))


def test_tiff_roundtrip_both_endiannesses():
    """r6: TIFF codec contract — gray/RGB x II/MM roundtrip with
    uneven strips and out-of-line offset arrays; magic routing
    through the generic mm path; honest subset errors (compression,
    multi-page, truncation)."""
    import random
    import struct

    from powerpoint_context_extractor_spark.operators.multimodal import (
        _kind_of,
    )
    from powerpoint_context_extractor_spark.tiff import (
        decode_tiff, render_tiff,
    )
    rng = random.Random(33)
    for ch in (1, 3):
        for be in (False, True):
            for w, h, rps in ((1, 1, 1), (16, 8, 3), (23, 7, 100)):
                px = bytes(rng.randrange(256)
                           for _ in range(w * h * ch))
                data = render_tiff(w, h, px, channels=ch,
                                   big_endian=be, rows_per_strip=rps)
                assert _kind_of(data) == "tiff"
                assert decode_tiff(data) == (w, h, ch, px), (ch, be, w)
    good = render_tiff(4, 4, bytes(16))
    with pytest.raises(ValueError, match="byte-order"):
        decode_tiff(b"XX" + good[2:])
    with pytest.raises(ValueError):
        decode_tiff(good[:-8])
    # compression outside {1 none, 5 LZW, 7 JPEG} is an honest subset
    # error: patch the IFD entry to 6 (old-style JPEG)
    bad = bytearray(good)
    ifd = struct.unpack("<I", bad[4:8])[0]
    n = struct.unpack("<H", bad[ifd:ifd + 2])[0]
    for i in range(n):
        o = ifd + 2 + 12 * i
        if struct.unpack("<H", bad[o:o + 2])[0] == 259:
            bad[o + 8:o + 10] = struct.pack("<H", 6)
    with pytest.raises(ValueError, match="compression 6"):
        decode_tiff(bytes(bad))


def test_tiff_tiles_and_multipage_roundtrip():
    """r7: tiled layouts (full tw x th tiles, zero-padded right/bottom
    edges, blitted by grid position) roundtrip across gray/RGB x
    II/MM x none/LZW x predictor, incl. tiles larger than the image;
    multi-page IFD chains decode in order; decode_tiff returns page 0
    of a multi-page file; a looping IFD chain is rejected."""
    import itertools
    import struct

    from powerpoint_context_extractor_spark.tiff import (
        decode_tiff, decode_tiff_pages, render_tiff, render_tiff_pages,
    )
    for ch, be, comp, pred, tile in itertools.product(
            (1, 3), (False, True), (1, 5), (1, 2),
            ((4, 4), (5, 3), (32, 32))):
        if pred == 2 and comp != 5:
            continue
        w, h = 13, 11
        px = bytes((x * 11 + y * 17 + c * 41) % 256
                   for y in range(h) for x in range(w)
                   for c in range(ch))
        t = render_tiff(w, h, px, channels=ch, big_endian=be,
                        compression=comp, predictor=pred, tile=tile)
        assert decode_tiff(t) == (w, h, ch, px), (ch, be, comp, pred,
                                                  tile)
    pages = []
    for p in range(3):
        w, h, ch = 7 + p, 5 + p, 1 if p % 2 == 0 else 3
        px = bytes((p * 37 + i * 3) % 256 for i in range(w * h * ch))
        pages.append((w, h, px, ch))
    data = render_tiff_pages(pages, big_endian=True, compression=5,
                             predictor=2, tile=(4, 4))
    assert decode_tiff_pages(data) == [(w, h, ch, px)
                                       for (w, h, px, ch) in pages]
    assert decode_tiff(data) == (7, 5, 1, pages[0][2])
    # IFD loop: point the first IFD's next pointer back at itself
    loop = bytearray(render_tiff_pages(pages[:1]))
    (ifd0,) = struct.unpack("<I", loop[4:8])
    (n,) = struct.unpack("<H", loop[ifd0:ifd0 + 2])
    nxt = ifd0 + 2 + 12 * n
    loop[nxt:nxt + 4] = struct.pack("<I", ifd0)
    with pytest.raises(ValueError, match="loops"):
        decode_tiff_pages(bytes(loop))
    with pytest.raises(ValueError, match="at least one page"):
        render_tiff_pages([])


def test_tiff_lzw_roundtrip_and_bit_contract():
    """r7 (r6 VERDICT #4): TIFF6 LZW — MSB-first packing and the
    early width change pinned by a hand-computed byte vector; 40KB
    high-entropy and 100KB low-entropy roundtrips force width growth
    through 10/11/12 bits and table resets at slot 4094; the full
    container roundtrips gray/RGB x II/MM x predictor 1/2 with
    per-strip independent streams."""
    import itertools

    from powerpoint_context_extractor_spark.tiff import (
        decode_tiff, render_tiff, tiff_lzw_decode, tiff_lzw_encode,
    )
    # hand-computed: codes [CLEAR=256, 0, 258(KwKwK), EOI=257] at
    # width 9, MSB-first -> 80 00 20 50 10
    assert tiff_lzw_encode(b"\x00\x00\x00").hex() == "8000205010"
    assert tiff_lzw_decode(bytes.fromhex("8000205010"), 3) == b"\x00" * 3
    buf = bytes((i * i * 31 + i * 7 + (i >> 3)) % 256
                for i in range(40000))
    assert tiff_lzw_decode(tiff_lzw_encode(buf), len(buf)) == buf
    txt = b"the quick brown fox jumps over the lazy dog " * 2500
    enc = tiff_lzw_encode(txt)
    assert len(enc) < len(txt) // 10          # actually compresses
    assert tiff_lzw_decode(enc, len(txt)) == txt
    for ch, be, pred in itertools.product((1, 3), (False, True), (1, 2)):
        w, h = 13, 11
        px = bytes((x * 7 + y * 13 + c * 29) % 256
                   for y in range(h) for x in range(w)
                   for c in range(ch))
        t = render_tiff(w, h, px, channels=ch, big_endian=be,
                        rows_per_strip=3, compression=5,
                        predictor=pred)
        assert decode_tiff(t) == (w, h, ch, px), (ch, be, pred)
    with pytest.raises(ValueError, match="predictor 2 requires"):
        render_tiff(2, 2, bytes(4), compression=1, predictor=2)
    with pytest.raises(ValueError, match="truncated LZW"):
        tiff_lzw_decode(tiff_lzw_encode(buf)[:100], len(buf))


def test_gif_roundtrip_lzw_and_interlace():
    """r6: GIF codec contract — LZW roundtrip across code-width growth
    and the 4096-entry dictionary reset, the KwKwK self-reference
    case, interlaced row reassembly on odd heights, local color
    tables, extension-block skipping, and honest subset errors."""
    import random
    import struct

    from powerpoint_context_extractor_spark.gif import (
        decode_gif, lzw_decode, lzw_encode, render_gif,
    )
    rng = random.Random(11)
    # long random stream: width grows 5..12 and the table resets
    data = bytes(rng.randrange(16) for _ in range(60000))
    assert lzw_decode(lzw_encode(data, 4), 4, len(data)) == data
    # KwKwK: constant runs force code == next-table-entry decodes
    run = bytes([3]) * 5000
    assert lzw_decode(lzw_encode(run, 2), 2, 5000) == run
    pal = [(j, 255 - j, 2 * j) for j in range(16)]
    for h in (1, 5, 8, 9):
        idx = bytes((7 * i) % 16 for i in range(16 * h))
        want = b"".join(bytes(pal[v]) for v in idx)
        for il in (False, True):
            w_, h_, ch, rgb = decode_gif(
                render_gif(16, h, idx, pal, interlaced=il))
            assert (w_, h_, ch, rgb) == (16, h, 3, want), (h, il)
    # a graphic-control extension before the image must be skipped
    g = bytearray(render_gif(4, 2, bytes(8), pal))
    body_at = 13 + 3 * 16                  # after header + GCT
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    g2 = bytes(g[:body_at]) + ext + bytes(g[body_at:])
    assert decode_gif(g2) == decode_gif(bytes(g))
    # local color table overrides the global one
    img = struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0x80)  # LCT, 2 entries
    img += bytes((9, 9, 9, 1, 2, 3))
    comp = lzw_encode(bytes([0, 1]), 2)
    img += bytes([2]) + bytes([len(comp)]) + comp + b"\x00"
    hdr = struct.pack("<HHBBB", 2, 1, 0, 0, 0)   # no GCT
    lg = b"GIF89a" + hdr + img + b"\x3b"
    assert decode_gif(lg)[3] == bytes((9, 9, 9, 1, 2, 3))
    for bad in (b"NOTAGIF!", bytes(g)[:-12],
                b"GIF89a" + hdr + b"\x3b"):       # no image block
        with pytest.raises(ValueError):
            decode_gif(bad)


def test_gif_animation_probe():
    """r6: the animation probe counts frames/delays/loops without
    decoding pixels, reports -1 loops when no NETSCAPE extension is
    present, agrees with the single-frame renderer, and raises on
    frameless files."""
    import struct

    from powerpoint_context_extractor_spark.gif import (
        lzw_encode, probe_gif_animation, render_gif,
    )
    pal = [(j, j, j) for j in range(4)]
    assert probe_gif_animation(
        render_gif(4, 2, bytes(8), pal)) == (1, 0, -1)

    def frame():
        comp = lzw_encode(bytes(4), 2)
        return (struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0)
                + bytes([2, len(comp)]) + comp + b"\x00")

    hdr = (b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0x81, 0, 0)
           + bytes(b for rgb in pal for b in rgb))
    ns = b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x05\x00\x00"
    gce10 = b"\x21\xf9\x04\x00" + struct.pack("<H", 10) + b"\x00\x00"
    gce20 = b"\x21\xf9\x04\x00" + struct.pack("<H", 20) + b"\x00\x00"
    anim = (hdr + ns + gce10 + frame() + gce20 + frame() + frame()
            + b"\x3b")
    assert probe_gif_animation(anim) == (3, 30, 5)
    with pytest.raises(ValueError, match="no image"):
        probe_gif_animation(hdr + b"\x3b")


def test_gif_animation_frames_compose_with_disposal():
    """r7 (r6 VERDICT #3): decode_gif_frames composites sub-rect
    frames with GCE transparency and all three disposal modes onto
    the logical screen, byte-for-byte equal to an independent plain-
    python compositor; single-frame stills (incl. interlaced) decode
    identically to decode_gif; the probe agrees on frames/delays."""
    from powerpoint_context_extractor_spark.gif import (
        decode_gif, decode_gif_frames, probe_gif_animation, render_gif,
        render_gif_animation,
    )
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255),
           (255, 255, 0), (9, 9, 9)]
    sw, sh = 8, 6
    f0 = bytes((x + y) % 5 for y in range(sh) for x in range(sw))
    f1 = bytes([1, 5, 2, 5, 3, 5])         # 3x2 at (2,1), 5=transparent
    f2 = bytes([2] * 12)                   # 4x3 at (4,3), disposal 2
    f3 = bytes([4] * (sw * sh))            # full, disposal 3 (previous)
    f4 = bytes([3, 3, 3, 3])               # 2x2 at (3,3) over restored
    rects = [(0, 0, sw, sh), (2, 1, 3, 2), (4, 3, 4, 3),
             (0, 0, sw, sh), (3, 3, 2, 2)]
    data = render_gif_animation(
        sw, sh, [f0, f1, f2, f3, f4], pal,
        delays=[10, 20, 30, 5, 7], disposals=[1, 1, 2, 3, 0],
        rects=rects, transparent=5, loops=2)
    assert probe_gif_animation(data) == (5, 72, 2)
    W, H, frames, delays, loops = decode_gif_frames(data)
    assert (W, H, loops) == (sw, sh, 2)
    assert delays == [10, 20, 30, 5, 7]

    def blit(canvas, rect, idx):
        left, top, w, h = rect
        for r in range(h):
            for c in range(w):
                v = idx[r * w + c]
                if v == 5:
                    continue
                o = ((top + r) * sw + left + c) * 3
                canvas[o:o + 3] = bytes(pal[v])

    bg = bytes(pal[0])
    canvas = bytearray(bg * (sw * sh))
    exp = []
    blit(canvas, rects[0], f0)
    exp.append(bytes(canvas))
    blit(canvas, rects[1], f1)
    exp.append(bytes(canvas))
    blit(canvas, rects[2], f2)
    exp.append(bytes(canvas))
    for r in range(3):                     # disposal 2: rect -> bg
        o = ((3 + r) * sw + 4) * 3
        canvas[o:o + 3 * 4] = bg * 4
    pre3 = bytes(canvas)
    blit(canvas, rects[3], f3)
    exp.append(bytes(canvas))
    canvas = bytearray(pre3)               # disposal 3: previous
    blit(canvas, rects[4], f4)
    exp.append(bytes(canvas))
    assert frames == exp
    # stills: frames-decoder == single-frame decoder, even interlaced
    still = render_gif(4, 4, bytes(range(4)) * 4, pal[:5],
                       interlaced=True)
    w, h, _ch, rgb = decode_gif(still)
    W2, H2, fr, d2, lp = decode_gif_frames(still)
    assert (W2, H2, lp, d2) == (w, h, -1, [0]) and fr == [rgb]


def test_gif_kind_routed_through_real_decoder(spark):
    """r6: the generic mm_features path classifies GIF payloads by
    magic and decodes them for real (exact feature vector), and a
    corrupt GIF becomes an honest error row."""
    from powerpoint_context_extractor_spark.operators.multimodal import (
        extract_features, gif_payload_for_doc,
    )
    good = gif_payload_for_doc(6)
    rows = extract_features(spark.createDataFrame(
        [(6, bytearray(good)), (7, bytearray(good[:20]))],
        "doc_id long, payload binary")).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[6]["kind"] == "gif" and by_id[6]["error"] is None
    px = [(((6 * 31 + j) % 16) * m) % 256
          for j in range(128) for m in (37, 59, 83)]
    assert by_id[6]["features"] == [16.0, 8.0, 3.0,
                                    float(sum(px) % 997),
                                    float(min(px)), float(max(px))]
    assert by_id[7]["kind"] == "gif" and by_id[7]["error"] is not None


def test_avi_mjpeg_roundtrip_exact_and_errors():
    """r6: MJPEG AVI — every '00dc' chunk a complete baseline color
    JPEG; decode must land frame-exactly on the analytic color-JPEG
    reconstruction, grayscale frames expand to RGB, and a frame whose
    JPEG dims disagree with the container raises."""
    import struct

    from powerpoint_context_extractor_spark.avi import (
        MJPG_FOURCC, decode_avi, render_avi_mjpeg,
    )
    from powerpoint_context_extractor_spark.jpeg import render_jpeg_gray
    from powerpoint_context_extractor_spark.operators.multimodal import (
        JPEG_C_H, JPEG_C_W, jpeg_color_mcu_rgb,
    )

    def frame_for(seed):
        px = bytearray(JPEG_C_W * JPEG_C_H * 3)
        for m in range(2):
            r, g, b = jpeg_color_mcu_rgb(seed, m)
            for y in range(JPEG_C_H):
                for x in range(16):
                    o = (y * JPEG_C_W + m * 16 + x) * 3
                    px[o], px[o + 1], px[o + 2] = r, g, b
        return bytes(px)

    data = render_avi_mjpeg(JPEG_C_W, JPEG_C_H,
                            [frame_for(14), frame_for(15)], fps=5)
    w, h, fps, frames = decode_avi(data)
    assert (w, h, fps, len(frames)) == (JPEG_C_W, JPEG_C_H, 5, 2)
    for f, fr in enumerate(frames):
        exp = bytearray(JPEG_C_W * JPEG_C_H * 3)
        for m in range(2):
            r, g, b = jpeg_color_reconstructed_rgb(14 + f, m)
            for y in range(JPEG_C_H):
                for x in range(16):
                    o = (y * JPEG_C_W + m * 16 + x) * 3
                    exp[o], exp[o + 1], exp[o + 2] = r, g, b
        assert fr == bytes(exp), f
    # grayscale JPEG frames expand to RGB triplets
    gray = render_jpeg_gray(16, 8, bytes([128] * 128))
    body = bytearray(data)
    # hand-splice: replace first 00dc payload with the gray JPEG in a
    # minimal container — easier to just build one
    avih = struct.pack("<IIIIIIIIIIIIII", 100000, 0, 0, 0x10, 1, 0, 1,
                       len(gray), 16, 8, 0, 0, 0, 0)
    strf = struct.pack("<IiiHHIIiiII", 40, 16, 8, 1, 24, MJPG_FOURCC,
                       0, 0, 0, 0, 0)
    strh = struct.pack("<4s4sIHHIIIIIIIIhhhh", b"vids", b"MJPG", 0, 0,
                       0, 0, 1, 10, 0, 1, len(gray), 0, 0, 0, 0, 16, 8)
    strl_body = (b"strl" + b"strh" + struct.pack("<I", len(strh)) + strh
                 + b"strf" + struct.pack("<I", len(strf)) + strf)
    hdrl_body = (b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
                 + b"LIST" + struct.pack("<I", len(strl_body))
                 + strl_body)
    movi_body = (b"movi" + b"00dc" + struct.pack("<I", len(gray)) + gray
                 + (b"\x00" if len(gray) % 2 else b""))
    body2 = (b"AVI " + b"LIST" + struct.pack("<I", len(hdrl_body))
             + hdrl_body + b"LIST" + struct.pack("<I", len(movi_body))
             + movi_body)
    gavi = b"RIFF" + struct.pack("<I", len(body2)) + body2
    gw, gh, _f, gframes = decode_avi(gavi)
    assert (gw, gh) == (16, 8) and len(gframes) == 1
    assert len(gframes[0]) == 16 * 8 * 3
    assert gframes[0][0] == gframes[0][1] == gframes[0][2]
    # container/frame dimension mismatch is an honest error (the avih
    # dims drive the check)
    bad = bytearray(gavi)
    aoff = bad.find(b"avih") + 8
    bad[aoff + 32:aoff + 36] = struct.pack("<I", 32)  # dwWidth=32
    with pytest.raises(ValueError, match="dims"):
        decode_avi(bytes(bad))


def test_avi_rle8_roundtrip_delta_and_subset_errors():
    """r6 BI_RLE8 codec: palettized frames round-trip through the real
    wire format (runs, absolute mode with word pad, EOL/EOB); the
    delta escape skips pixels leaving the DIB-conventional 0 fill;
    truncated streams and out-of-range palette indices raise."""
    import pytest as _pytest

    from powerpoint_context_extractor_spark.avi import (
        decode_avi, render_avi_rle8, rle8_decode_frame, rle8_encode_frame,
    )
    from powerpoint_context_extractor_spark.operators import multimodal as mm

    # container round-trip on the frozen fixture rule
    frames = [bytes(mm.rle8_index_for_doc(9, f, y, x)
                    for y in range(mm.RLE_H) for x in range(mm.RLE_W))
              for f in range(mm.RLE_FRAMES)]
    raw = render_avi_rle8(mm.RLE_W, mm.RLE_H, frames, mm.PNG_PALETTE, fps=10)
    w, h, fps, rgbs = decode_avi(raw)
    assert (w, h, fps) == (mm.RLE_W, mm.RLE_H, 10)
    assert rgbs[2] == b"".join(bytes(mm.PNG_PALETTE[j]) for j in frames[2])

    # raw codec round-trip across run/literal mixes (incl. >255 runs)
    for pat in (b"\x00" * 300, bytes(range(7)) * 3, b"\x05\x05\x01\x02",
                bytes((i * 11) % 4 for i in range(50))):
        wdt = len(pat)
        assert rle8_decode_frame(wdt, 1, rle8_encode_frame(wdt, 1, pat)) == pat

    # delta escape: dx=2, dy=1 from the bottom row, then a 2-run
    enc = bytes([0, 2, 2, 1, 2, 5, 0, 0, 0, 0, 0, 1])
    dec = rle8_decode_frame(4, 3, enc)
    exp = bytearray(12)
    exp[1 * 4 + 2] = exp[1 * 4 + 3] = 5
    assert dec == bytes(exp)

    with _pytest.raises(ValueError, match="end-of-bitmap"):
        rle8_decode_frame(4, 3, bytes([2, 1, 0, 0]))
    with _pytest.raises(ValueError, match="palette index"):
        render_avi_rle8(2, 1, [b"\x10\x00"], mm.PNG_PALETTE)
    # an 8bpp strf with a non-RLE8 compression keeps the honest error
    rle4 = raw.replace(
        b"\x01\x00\x08\x00\x01\x00\x00\x00",      # planes=1,bpp=8,comp=1
        b"\x01\x00\x08\x00\x02\x00\x00\x00", 1)   # -> comp=2 (BI_RLE4)
    assert rle4 != raw
    with _pytest.raises(ValueError, match="unsupported"):
        decode_avi(rle4)


def test_mm_video_rle8_matches_analytic_rule(spark):
    """The Spark RLE8 decode query reproduces the frozen index/palette
    rule exactly (the same math the DuckDB oracle runs)."""
    from powerpoint_context_extractor_spark.operators import multimodal as mm
    docs = spark.createDataFrame([(3,), (14,)], "doc_id long")
    got = {(r["doc_id"], r["frame_id"]): r
           for r in mm.extract_video_rle8_frames(docs).collect()}
    assert len(got) == 2 * mm.RLE_FRAMES
    for doc_id in (3, 14):
        for f in range(mm.RLE_FRAMES):
            px = [c for y in range(mm.RLE_H) for x in range(mm.RLE_W)
                  for c in mm.PNG_PALETTE[mm.rle8_index_for_doc(
                      doc_id, f, y, x)]]
            r = got[(doc_id, f)]
            assert (r["px_sum"], r["px_min"], r["px_max"]) == (
                sum(px), min(px), max(px))


def test_avi_kind_routed_through_real_decoder(spark):
    """r5: the video kind decodes for REAL in the generic feature path
    (n_frames, w, h, fps, first/last frame checksums) — the U1 stub
    surface is now empty; non-WAVE/AVI RIFF still stubs."""
    from powerpoint_context_extractor_spark.operators import multimodal as mm
    raw = mm.avi_payload_for_doc(6)
    df = spark.createDataFrame([(6, bytearray(raw))],
                               "doc_id long, payload binary")
    row = mm.extract_features(df).collect()[0]
    assert row["kind"] == "avi" and row["error"] is None
    f0 = mm.avi_frame_bytes_for_doc(6, 0)
    f3 = mm.avi_frame_bytes_for_doc(6, mm.AVI_FRAMES - 1)
    assert row["features"] == [
        float(mm.AVI_FRAMES), float(mm.AVI_W), float(mm.AVI_H),
        float(mm.AVI_FPS), float(sum(f0) % 997), float(sum(f3) % 997)]


def test_wav_roundtrip_and_subset_errors():
    import pytest as _pytest

    from powerpoint_context_extractor_spark.wav import (
        decode_wav, render_wav, ulaw_decode, ulaw_encode,
    )
    samples = [0, 1, -1, 32767, -32768, 123, -4567]  # odd count -> pad
    raw = render_wav(samples, sample_rate=44100)
    assert decode_wav(raw) == (44100, 1, samples)
    # mu-law (r6): decoded = exact expand(compress(s)); companding is
    # idempotent on already-expanded values; ladder matches the SQL
    # mirror (segment CASE + mantissa) on boundary samples
    got = decode_wav(render_wav(samples, 8000, encoding="ulaw"))
    assert got[0] == 8000 and got[1] == 1
    assert got[2] == [ulaw_decode(ulaw_encode(s)) for s in samples]
    for s in (0, 1, -1, 131, 132, 255, 256, 8191, 8192, 32635, 32767,
              -32768):
        d = ulaw_decode(ulaw_encode(s))
        assert ulaw_decode(ulaw_encode(d)) == d
        m = min(abs(s), 32635) + 132
        ex = next(e for e, hi in enumerate(
            (256, 512, 1024, 2048, 4096, 8192, 16384, 1 << 62)) if m < hi)
        mag = ((((m >> (ex + 3)) & 15) * 8 + 132) << ex) - 132
        assert d == (-mag if s < 0 else mag)
    with _pytest.raises(ValueError, match="RIFF/WAVE"):
        decode_wav(b"RIFFxxxxAVI " + b"\x00" * 20)
    with _pytest.raises(ValueError, match="truncated"):
        decode_wav(raw[:-4])
    # stereo round-trips (r6): fmt carries channels=2, block align 4
    st = [10, -10, 200, -200, 3000, -3000]
    raw2 = render_wav(st, sample_rate=8000, channels=2)
    assert decode_wav(raw2) == (8000, 2, st)
    import struct as _struct
    assert _struct.unpack("<HHIIHH", raw2[20:36]) == \
        (1, 2, 8000, 32000, 4, 16)
    with _pytest.raises(ValueError, match="multiple of channels"):
        render_wav([1, 2, 3], channels=2)
    # >2 channels / non-PCM stay outside the subset
    quad_fmt = _struct.pack("<HHIIHH", 1, 4, 8000, 64000, 8, 16)
    body = (b"WAVE" + b"fmt " + _struct.pack("<I", 16) + quad_fmt
            + b"data" + _struct.pack("<I", 0))
    bad = b"RIFF" + _struct.pack("<I", len(body)) + body
    with _pytest.raises(ValueError, match="unsupported"):
        decode_wav(bad)
    with _pytest.raises(ValueError, match="int16"):
        render_wav([99999])


def test_wav_kind_routed_through_real_decoder(spark):
    """r5: RIFF/WAVE payloads decode for REAL in the generic feature
    path (form type at offset 8 routes the RIFF container); non-WAVE
    RIFF stays on the stub."""
    from powerpoint_context_extractor_spark.operators import multimodal as mm
    raw = mm.wav_payload_for_doc(3)
    other_riff = b"RIFF" + (len(raw) - 8).to_bytes(4, "little") + b"ACON" \
        + raw[12:]
    df = spark.createDataFrame(
        [(3, bytearray(raw)), (4, bytearray(other_riff))],
        "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in mm.extract_features(df).collect()}
    s = mm.wav_samples_for_doc(3)
    assert got[3]["kind"] == "wav" and got[3]["error"] is None
    assert got[3]["features"] == [
        float(len(s)), 8000.0, float(len(s) * 1000 // 8000),
        float(sum(abs(x) for x in s) % 997), float(min(s)), float(max(s))]
    assert got[4]["kind"] == "riff"        # stub path, not mojibake'd


def test_jpeg_roundtrip_and_subset_errors():
    """r5 baseline-JPEG codec: constant blocks decode EXACTLY to the
    frozen integer rule; smooth general images round-trip within
    normal quantization loss; everything outside the subset raises."""
    import math as _math

    import pytest as _pytest

    from powerpoint_context_extractor_spark.jpeg import (
        decode_jpeg_gray, render_jpeg_gray,
    )
    w, h = 16, 8
    for vals in ([57, 201], [0, 255], [127, 128]):
        px = bytearray(w * h)
        for b, v in enumerate(vals):
            for y in range(h):
                for x in range(8):
                    px[y * w + b * 8 + x] = v
        dw, dh, dec = decode_jpeg_gray(render_jpeg_gray(w, h, bytes(px)))
        assert (dw, dh) == (w, h)
        for b, v in enumerate(vals):
            got = {dec[y * w + b * 8 + x] for y in range(h)
                   for x in range(8)}
            assert got == {jpeg_reconstructed_value(v)}, (v, got)
    # smooth image: real huffman/AC path, bounded quantization error
    W, H = 64, 32
    img = bytes((128 + int(40 * _math.sin(x / 9) + 30 * _math.cos(y / 7)))
                % 256 for y in range(H) for x in range(W))
    _, _, dec2 = decode_jpeg_gray(render_jpeg_gray(W, H, img))
    assert max(abs(a - b) for a, b in zip(img, dec2)) <= 8
    with _pytest.raises(ValueError, match="multiples of 8"):
        render_jpeg_gray(10, 8, bytes(80))
    with _pytest.raises(ValueError, match="missing SOI"):
        decode_jpeg_gray(b"not a jpeg")
    with _pytest.raises(ValueError, match="truncated|missing"):
        decode_jpeg_gray(render_jpeg_gray(8, 8, bytes(64))[:20])


def test_jpeg_sparse_idct_bitexact():
    """r8 optimization pin: the sparse IDCT (zero coefficients skipped;
    DC-only one-product fill) and the constant-block FDCT fast path
    must be BIT-IDENTICAL to the dense reference loops they replaced —
    checked here against verbatim copies of the r7 reference code over
    DC-only, random-sparse, and fully dense blocks."""
    import math as _math
    import random as _random

    from powerpoint_context_extractor_spark.jpeg import (
        QTABLE, _COS, _ZIGZAG, _dequant_idct, _fdct_quant,
    )

    def idct_ref(zz, qtab=QTABLE):        # r7 dense reference, verbatim
        coef = [0] * 64
        for k in range(64):
            coef[_ZIGZAG[k]] = zz[k] * qtab[_ZIGZAG[k]]
        out = [0] * 64
        for y in range(8):
            for x in range(8):
                s = 0.0
                for u in range(8):
                    cu = 1 / _math.sqrt(2) if u == 0 else 1.0
                    for v in range(8):
                        cv = 1 / _math.sqrt(2) if v == 0 else 1.0
                        s += cu * cv * coef[u * 8 + v] * _COS[x][v] * _COS[y][u]
                px = int(round(s / 4)) + 128
                out[y * 8 + x] = 0 if px < 0 else (255 if px > 255 else px)
        return out

    def fdct_ref(block):                  # r7 reference, verbatim
        shifted = [v - 128 for v in block]
        out = [0] * 64
        for u in range(8):
            cu = 1 / _math.sqrt(2) if u == 0 else 1.0
            for v in range(8):
                if u == 0 and v == 0:
                    continue
                cv = 1 / _math.sqrt(2) if v == 0 else 1.0
                s = 0.0
                for y in range(8):
                    for x in range(8):
                        s += shifted[y * 8 + x] * _COS[x][v] * _COS[y][u]
                val = 0.25 * cu * cv * s
                q = QTABLE[u * 8 + v]
                out[u * 8 + v] = int(round(val / q))
        ssum = sum(shifted)
        d = 8 * QTABLE[0]
        dcq = (2 * abs(ssum) + d) // (2 * d)
        out[0] = dcq if ssum >= 0 else -dcq
        return [out[_ZIGZAG[k]] for k in range(64)]

    rng = _random.Random(1208)
    cases = [[0] * 64] + [[dc] + [0] * 63 for dc in (-900, -4, 3, 777)]
    for _ in range(120):
        nnz = rng.choice([1, 2, 3, 6, 12, 32, 64])
        zz = [0] * 64
        for _i in range(nnz):
            zz[rng.randrange(64)] = rng.randrange(-200, 201)
        cases.append(zz)
    for zz in cases:
        assert _dequant_idct(zz) == idct_ref(zz), zz
    blocks = [[v] * 64 for v in (0, 1, 57, 127, 128, 200, 255)]
    for _ in range(40):
        blocks.append([rng.randrange(256) for _ in range(64)])
    for b in blocks:
        assert _fdct_quant(b) == fdct_ref(b), b[:8]


def test_jpeg_progressive_decode_equals_baseline():
    """r6: the SOF2 spectral-selection path (DC scan + AC band scan
    with cross-block EOB runs, stream-defined huffman tables) decodes
    any image to the SAME pixels as the baseline path; the honest
    subset errors stay honest (successive approximation, progressive
    color)."""
    import random

    import pytest as _pytest

    from powerpoint_context_extractor_spark.jpeg import (
        decode_jpeg, render_jpeg_gray, render_jpeg_gray_progressive,
    )
    random.seed(11)
    for (w, h) in ((16, 8), (32, 16)):
        px = bytes(random.randrange(256) for _ in range(w * h))
        assert decode_jpeg(render_jpeg_gray_progressive(w, h, px)) \
            == decode_jpeg(render_jpeg_gray(w, h, px))
    # gradient exercises ZRL + multi-coefficient AC + EOB runs
    px = bytes((x * 16 + y) % 256 for y in range(16) for x in range(32))
    assert decode_jpeg(render_jpeg_gray_progressive(32, 16, px)) \
        == decode_jpeg(render_jpeg_gray(32, 16, px))
    # malformed refinement (Ah without Al = Ah-1) stays an honest
    # error: flip the DC scan's AhAl byte (last SOS header byte) to
    # Ah=2, Al=0
    raw = bytearray(render_jpeg_gray_progressive(16, 8, bytes(128 for _ in range(128))))
    sos = raw.find(b"\xff\xda")
    # FF DA len2 ns1 cid,tdta Ss Se AhAl -> AhAl is at sos + 9
    raw[sos + 9] = 0x20
    with _pytest.raises(ValueError, match="Al = Ah - 1"):
        decode_jpeg(bytes(raw))


def test_jpeg_successive_approximation_equals_baseline():
    """r6: the 4-scan successive-approximation stream (DC/AC first
    passes at Al=1 + DC/AC refinement per T.81 G.1.2.3) reassembles
    every coefficient exactly — any image decodes to the SAME pixels
    as the baseline path, including dense-AC images that exercise the
    two-pool correction-bit protocol (run-tail bits flushing with the
    EOBn symbol, in-block bits after their covering symbol)."""
    import random

    from powerpoint_context_extractor_spark.jpeg import (
        decode_jpeg, render_jpeg_gray, render_jpeg_gray_progressive_sa,
    )
    random.seed(13)
    for (w, h) in ((16, 8), (32, 16), (8, 8)):
        for _ in range(8):            # dense AC: every block differs
            px = bytes(random.randrange(256) for _ in range(w * h))
            assert decode_jpeg(render_jpeg_gray_progressive_sa(w, h, px)) \
                == decode_jpeg(render_jpeg_gray(w, h, px))
    # block-constant (DC-only) and gradient (ZRL + EOB runs) shapes
    for px in (bytes(((x // 8) * 37 + 40) % 256
                     for _ in range(8) for x in range(32)),
               bytes((x * 3 + y * 5) % 256
                     for y in range(8) for x in range(32))):
        assert decode_jpeg(render_jpeg_gray_progressive_sa(32, 8, px)) \
            == decode_jpeg(render_jpeg_gray(32, 8, px))


def test_jpeg_color_roundtrip_and_exactness():
    """r6 (r5 VERDICT #6): YCbCr 4:2:0 — constant MCUs decode EXACTLY
    to the analytic integer chain, a gradient image round-trips within
    normal chroma-subsampled loss, the decoder honors the stream's
    DHT tables, and unsupported shapes still raise honestly."""
    import pytest as _pytest

    from powerpoint_context_extractor_spark.jpeg import (
        decode_jpeg, render_jpeg_color,
    )
    from powerpoint_context_extractor_spark.operators import multimodal as mm
    for doc in (0, 7, 123, 254, 9999):
        w, h, nc, px = decode_jpeg(mm.jpeg_color_payload_for_doc(doc))
        assert (w, h, nc) == (32, 16, 3)
        for m in range(2):
            exp = jpeg_color_reconstructed_rgb(doc, m)
            got = {tuple(px[(y * 32 + m * 16 + x) * 3:
                            (y * 32 + m * 16 + x) * 3 + 3])
                   for y in range(16) for x in range(16)}
            assert got == {exp}, (doc, m, got, exp)
    # gradient: full AC + chroma path, bounded loss
    W, H = 32, 32
    rgb = bytes(c for y in range(H) for x in range(W)
                for c in ((x * 8) % 256, (y * 8) % 256, ((x + y) * 4) % 256))
    _, _, nc, dec = decode_jpeg(render_jpeg_color(W, H, rgb))
    assert nc == 3
    errs = [abs(a - b) for a, b in zip(rgb, dec)]
    assert max(errs) < 64 and sum(errs) / len(errs) < 12
    with _pytest.raises(ValueError, match="multiples of 16"):
        render_jpeg_color(8, 8, bytes(8 * 8 * 3))
    # a BASELINE-shaped scan relabeled SOF2 is structurally invalid
    # progressive (full-band interleaved scan) and stays an honest
    # error now that real progressive color decodes (r6)
    data = bytearray(render_jpeg_color(16, 16, bytes(16 * 16 * 3)))
    sof = data.find(b"\xff\xc0")
    data[sof + 1] = 0xC2
    with _pytest.raises(ValueError, match="DC scan must be band 0"):
        decode_jpeg(bytes(data))
    # non-4:2:0 sampling (e.g. 4:2:2) is outside the subset
    data2 = bytearray(render_jpeg_color(16, 16, bytes(16 * 16 * 3)))
    sof2 = data2.find(b"\xff\xc0")
    data2[sof2 + 11] = 0x21                    # Y sampling 2x1
    with _pytest.raises(ValueError, match="sampling|4:2:0"):
        decode_jpeg(bytes(data2))


def test_jpeg_decoder_honors_stream_huffman_tables():
    """r6: DHT is parsed, not assumed — swapping which table ids the
    scan references (and emitting the tables under those ids) must
    decode identically."""
    import struct as _struct

    from powerpoint_context_extractor_spark.jpeg import (
        decode_jpeg, render_jpeg_gray,
    )
    orig = render_jpeg_gray(8, 8, bytes(range(64)))
    base = decode_jpeg(orig)
    # rewrite: move the two tables from ids (0,0)/(1,0) to (0,3)/(1,3)
    # and point the scan selector at id 3
    out = bytearray()
    i = 0
    data = orig
    out += data[:2]
    i = 2
    while i < len(data):
        marker = data[i + 1]
        if marker == 0xD9:
            out += data[i:]
            break
        (ln,) = _struct.unpack(">H", data[i + 2:i + 4])
        seg = bytearray(data[i:i + 2 + ln])
        if marker == 0xC4:
            seg[4] = (seg[4] & 0xF0) | 0x03    # table id -> 3
        if marker == 0xDA:
            seg[6] = 0x33                      # scan selects DC3/AC3
            out += seg
            out += data[i + 2 + ln:]
            break
        out += seg
        i += 2 + ln
    assert decode_jpeg(bytes(out)) == base


def test_jpeg_kind_routed_through_real_decoder(spark):
    """r5 (supersedes the r4 honest-unsupported contract): baseline
    grayscale jpegs decode for REAL in the generic feature path;
    payloads outside the subset still produce an honest error row."""
    from powerpoint_context_extractor_spark.operators import multimodal as mm
    raw = mm.jpeg_payload_for_doc(4)
    bad = b"\xff\xd8\xff\xe0" + b"\x00" * 32   # junk after SOI/APP0
    df = spark.createDataFrame(
        [(4, bytearray(raw)), (5, bytearray(bad))],
        "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in mm.extract_features(df).collect()}
    v0 = mm.jpeg_block_value(4, 0)
    v1 = mm.jpeg_block_value(4, 1)
    r0 = jpeg_reconstructed_value(v0)
    r1 = jpeg_reconstructed_value(v1)
    assert got[4]["kind"] == "jpeg" and got[4]["error"] is None
    assert got[4]["features"] == [16.0, 8.0, 1.0,
                                  float(64 * (r0 + r1) % 997),
                                  float(min(r0, r1)), float(max(r0, r1))]
    assert got[5]["kind"] == "jpeg" and got[5]["features"] is None
    assert got[5]["error"] is not None




# ---- k-means IVF + multi-probe recall (r3) ----

def test_kmeans_deterministic_and_partition_invariant(spark, sf_dir):
    """Integer-exact k-means: same centroids regardless of input
    partitioning (the property that makes it oracle-checkable)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c1 = similarity.kmeans_centroids(emb)
    c2 = similarity.kmeans_centroids(emb.repartition(13))
    assert c1 == c2
    assign = similarity.kmeans_assign(emb)
    sizes = [r["n"] for r in assign.groupBy("cluster")
             .agg(F.count(F.lit(1)).alias("n")).collect()]
    assert len(sizes) >= 2          # rank seeding avoids collapse


def test_ivf_nprobe_recall_monotone(spark, sf_dir):
    """More probes -> recall@10 never decreases, and nprobe=K recovers
    the brute-force result exactly (recall 1.0)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.kmeans_centroids(emb)
    brute = {r["vec_id"] for r in
             similarity.cosine_topk(emb, 0, k=10).collect()}
    last = -1.0
    for nprobe in (1, 2, 8):
        ivf = {r["vec_id"] for r in similarity.ivf_topk_kmeans(
            emb, 0, nprobe=nprobe, centroids=cents).collect()}
        rec = len(ivf & brute) / 10
        assert rec >= last, (nprobe, rec, last)
        last = rec
    assert last == 1.0              # probing every cell == brute force


def test_paragraph_dedup_removes_cross_doc_boilerplate(spark):
    """A paragraph shared by >=2 docs vanishes from every doc; unique
    paragraphs survive in document order."""
    import hashlib
    boiler = " ".join(f"b{i}" for i in range(20))       # exactly 1 chunk
    u0 = " ".join(f"u{i}" for i in range(20))
    u1 = " ".join(f"v{i}" for i in range(20))
    rows = [(0, boiler + " " + u0),
            (1, boiler + " " + u1),
            (2, u0)]                                     # u0 now shared too!
    out = {r["doc_id"]: r for r in dedup.paragraph_dedup(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    # boiler in docs 0+1 -> dropped; u0 in docs 0+2 -> dropped too
    assert out[0]["total_paras"] == 2 and out[0]["kept_paras"] == 0
    assert out[0]["clean_md5"] == md5("")
    assert out[1]["total_paras"] == 2 and out[1]["kept_paras"] == 1
    assert out[1]["clean_md5"] == md5(u1)
    assert out[2]["kept_paras"] == 0


def test_paragraph_dedup_keeps_within_doc_order(spark):
    import hashlib
    p = lambda c: " ".join(f"{c}{i}" for i in range(20))  # noqa: E731
    rows = [(7, " ".join([p("a"), p("b"), p("c")]))]
    r = dedup.paragraph_dedup(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()[0]
    want = "\n\n".join([p("a"), p("b"), p("c")])
    assert r["kept_paras"] == 3
    assert r["clean_md5"] == hashlib.md5(want.encode()).hexdigest()


def test_paragraph_dedup_plan_has_no_token_shuffle(spark):
    """r4 VERDICT #3 + r5 skew fix 'done' gate: paragraph chunks are
    assembled map-side (no per-token shuffle), the distinct-doc
    frequency is a salted two-stage aggregate whose subtree carries at
    most two narrow-key exchanges ((ph, doc) dedup then per-ph count),
    and — critically — NO window over partitionBy(ph) remains: a
    window would put every copy of a mass-duplicated boilerplate
    paragraph into one unsplittable task, while the hash join used now
    is AQE-skew-splittable."""
    import contextlib
    import io
    import re
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(45))) for i in range(50)],
        "doc_id long, text string")
    out = dedup.paragraph_dedup(docs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan, plan
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    # total: keyed-on-ph (join probe), (ph,doc) dedup, per-ph count,
    # final doc regroup — and only ONE of them carries paragraph bodies
    assert len(shuffles) <= 4, plan
    # frequency subtree: exchanges between the first HashAggregate and
    # the join must be keyed (ph / ph,doc) only — no 'para' column in
    # any Exchange's input schema
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "para#" not in m.group(1) or "ph#" in m.group(1), plan


def test_bigram_coherence_scores_corpus_support(spark):
    """r5 LM-lite quality signal: exact integer math on a
    hand-checkable corpus — docs sharing bigrams support each other,
    a gibberish doc only supports itself."""
    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on a chair"),
        (2, "zq xv qj wk pz"),          # gibberish: unique bigrams
        (3, "one"),                     # single token: excluded
    ]
    out = {r["doc_id"]: r for r in textstats.bigram_coherence(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert 3 not in out and len(out) == 3
    # doc 0 bigrams: [the cat]x2-corpus, [cat sat]x2, [sat on]x2,
    # [on the]x1, [the mat]x1 -> freq_sum 8 over 5
    assert (out[0]["n_bigrams"], out[0]["freq_sum"]) == (5, 8)
    assert out[0]["coherence_x100"] == 8 * 100 // 5
    # gibberish: every bigram count 1 -> coherence exactly 100
    assert out[2]["coherence_x100"] == 100
    assert out[0]["coherence_x100"] > out[2]["coherence_x100"]


def test_bpe_pair_counts_topk_deterministic(spark):
    """r5 vocabulary induction: exact adjacent-char-pair counts with
    the (count desc, pair asc) tie-break."""
    rows = [(0, "aaab aab"), (1, "ab ba")]
    out = textstats.bpe_pair_counts(
        spark.createDataFrame(rows, "doc_id long, text string"),
        k=3).collect()
    # pairs: aaab -> aa,aa,ab; aab -> aa,ab; ab -> ab; ba -> ba
    # counts: aa=3, ab=3, ba=1 -> tie at 3 broken by pair asc
    assert [(r["pair"], r["n"]) for r in out] == [
        ("aa", 3), ("ab", 3), ("ba", 1)]


def test_bpe_learn_iterative_merges(spark):
    """r6 (r5 VERDICT #5): the merge LOOP is real — later steps pick
    pairs that only exist because earlier merges created the symbol
    ('lo w' can only win after 'l o' -> 'lo'), the tie-break is
    (count desc, pair asc), and counts reflect the merged corpus."""
    from powerpoint_context_extractor_spark.operators.textstats import (
        bpe_learn,
    )
    docs = spark.createDataFrame(
        [(0, "low lower lowest low low"), (1, "new newer newest new")],
        "doc_id long, text string")
    got = [tuple(r) for r in bpe_learn(docs, n_merges=6).collect()]
    # hand-computed: 'l o' and 'o w' tie at 5 -> asc picks 'l o';
    # step 2's 'lo w' (5) REQUIRES step 1's merge; then the new-family
    # ('e w'/'n ew' at 4), then suffix pairs at 2
    assert got == [
        (1, "l o", "lo", 5),
        (2, "lo w", "low", 5),
        (3, "e w", "ew", 4),
        (4, "n ew", "new", 4),
        (5, "e r", "er", 2),
        (6, "e s", "es", 2),
    ]
    # n_merges beyond exhaustion stops early instead of erroring
    tiny = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    rows = bpe_learn(tiny, n_merges=5).collect()
    assert [r["merged"] for r in rows] == ["ab"]


def test_bpe_encode_counts_and_zero_shuffle(spark):
    """r6: encoding with an explicit merge table is integer-exact and
    MAP-ONLY — the merges fold into transform/aggregate HOFs, so the
    physical plan has no Exchange at all (the 100 TB shape: encode is
    a pure per-row rewrite)."""
    from powerpoint_context_extractor_spark.operators.textstats import (
        bpe_encode, bpe_learn,
    )
    docs = spark.createDataFrame(
        [(0, "low lower lowest low low"), (1, "new newer newest new"),
         (2, "")],
        "doc_id long, text string")
    merges = [r["pair"] for r in bpe_learn(docs, n_merges=6).collect()]
    out = bpe_encode(docs, merges=merges)
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 0: low->1 lower->[low,er]=2 lowest->[low,es,t]=3 low low->1+1
    assert (rows[0]["ws_tokens"], rows[0]["bpe_tokens"]) == (5, 8)
    assert rows[0]["fertility_bp"] == 8 * 10000 // 5
    # doc 1: new->1 newer->[new,er]=2 newest->[new,es,t]=3 new->1
    assert (rows[1]["ws_tokens"], rows[1]["bpe_tokens"]) == (4, 7)
    # empty doc: zero tokens, NULL fertility, still one output row
    assert (rows[2]["ws_tokens"], rows[2]["bpe_tokens"]) == (0, 0)
    assert rows[2]["fertility_bp"] is None
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan      # zero shuffle: map-only encode


def test_image_dhash_known_bits_and_near_dup(spark):
    """r6: dHash gradient bits are exact on a hand-built image, the
    fixture corpus yields identical hashes exactly when two doc_ids
    share (kind, doc_id*31 % 256) — i.e. doc_id ≡ doc_id' (mod 1024)
    for non-palette kinds — and near-dup pairs verify by hamming."""
    from powerpoint_context_extractor_spark.operators.multimodal import (
        _dhash_rows, image_dhash, image_near_dup_pairs,
    )
    from powerpoint_context_extractor_spark.png import render_png

    # 9x8 grayscale ramp: every row strictly increasing -> no bit set
    # (bit = left > right); reversed ramp -> all bits set
    inc = bytes((x * 20) % 256 for _ in range(8) for x in range(9))
    assert _dhash_rows(9, 8, 1, inc) == [0] * 8
    dec = bytes(((8 - x) * 20) % 256 for _ in range(8) for x in range(9))
    assert _dhash_rows(9, 8, 1, dec) == [0xFF] * 8

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    h = image_dhash(docs)
    rows = {r["doc_id"]: r for r in h.collect()}
    assert all(rows[i]["dhash_hex"] is not None for i in range(40))
    # same kind + same pixel bytes -> identical full hash
    assert rows[0]["dhash_hex"] is not None

    # near-dup: planted identical pair via payload_col
    pay = render_png(16, 8, bytes((7 * i) % 256 for i in range(16 * 8)))
    near = bytearray(bytes((7 * i) % 256 for i in range(16 * 8)))
    near[0] ^= 0x80              # flip one pixel hard
    pay2 = render_png(16, 8, bytes(near))
    pdf = spark.createDataFrame(
        [(0, bytearray(pay)), (1, bytearray(pay)), (2, bytearray(pay2)),
         (3, bytearray(b"not a png"))],
        "doc_id long, img binary")
    hh = image_dhash(pdf, payload_col="img")
    got = {r["doc_id"]: r for r in hh.collect()}
    assert got[0]["dhash_hex"] == got[1]["dhash_hex"]
    assert got[3]["dhash_hex"] is None          # honest error row
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_near_dup_pairs(hh, max_hamming=8).collect()}
    assert pairs[(0, 1)] == 0                   # exact dup found
    # the one-pixel twin is near (shares >=1 band), not exact
    if (0, 2) in pairs:
        assert 0 < pairs[(0, 2)] <= 8


def test_hash_split_deterministic_partition(spark):
    """r5: train/val/test assignment is a pure function of the id —
    dual-run identical, proportions near 80/10/10, and adding rows
    never changes existing assignments."""
    import pytest as _pytest

    from powerpoint_context_extractor_spark.operators import sampling
    docs = spark.range(2000).selectExpr("id AS doc_id")
    a = {r["doc_id"]: (r["bucket"], r["split"])
         for r in sampling.hash_split(docs).collect()}
    b = {r["doc_id"]: (r["bucket"], r["split"])
         for r in sampling.hash_split(docs).collect()}
    assert a == b and len(a) == 2000
    n_train = sum(1 for v in a.values() if v[1] == "train")
    n_val = sum(1 for v in a.values() if v[1] == "val")
    assert 0.74 < n_train / 2000 < 0.86
    assert 0.06 < n_val / 2000 < 0.14
    # growing the corpus keeps old assignments (hash-gated, not rand)
    grown = {r["doc_id"]: (r["bucket"], r["split"])
             for r in sampling.hash_split(
                 spark.range(3000).selectExpr("id AS doc_id")).collect()}
    assert all(grown[k] == v for k, v in a.items())
    with _pytest.raises(ValueError, match="percentages"):
        sampling.hash_split(docs, train_pct=95)


def test_mixture_sample_hits_domain_quotas(spark):
    """r5: integer quota math — each domain's kept count approximates
    quota_d = ((N*frac)//1e4 * w_d)//1e4, a scarce up-weighted domain
    saturates at keep-all, and unknown domains drop to zero."""
    import pytest as _pytest

    from powerpoint_context_extractor_spark.operators import sampling
    rows = ([(i, "big") for i in range(1800)]
            + [(10000 + i, "rare") for i in range(40)]
            + [(20000 + i, "junk") for i in range(160)])
    docs = spark.createDataFrame(rows, "doc_id long, domain string")
    out = sampling.mixture_sample(
        docs, "domain", {"big": 5000, "rare": 5000}).collect()
    by_dom: dict = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append(r)
    # N=2000, N_out=1000, quota=500 each. rare has 40 < 500 rows ->
    # rate saturates at 10000 -> ALL 40 kept
    assert len(by_dom["rare"]) == 40
    assert by_dom["rare"][0]["rate_bp"] == 10000
    # big: rate = 500*10000//1800 = 2777 bp -> ~500 of 1800 kept
    assert by_dom["big"][0]["rate_bp"] == 500 * 10000 // 1800
    assert 400 < len(by_dom["big"]) < 600
    # junk has no target weight -> nothing kept
    assert "junk" not in by_dom
    with _pytest.raises(ValueError, match="weights_bp"):
        sampling.mixture_sample(docs, "domain", {"a": 9000, "b": 2000})


def test_mixture_upsample_repeats_scarce_domain(spark):
    """r6 (r5 VERDICT #4): when a domain's quota exceeds its count the
    UNCAPPED rate produces repetition factor > 1 — every row of that
    domain appears floor(rate/1e4) times plus a hash-gated extra, with
    rep ids 0..n-1; dual-run identical."""
    from powerpoint_context_extractor_spark.operators import sampling
    rows = ([(i, "big") for i in range(1800)]
            + [(10000 + i, "rare") for i in range(40)])
    docs = spark.createDataFrame(rows, "doc_id long, domain string")
    out = sampling.mixture_sample_upsample(
        docs, "domain", {"big": 5000, "rare": 5000},
        out_fraction_bp=5000).collect()
    by_dom: dict = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append(r)
    # N=1840, N_out=920, quota=460 each. rare: rate = 460*1e4//40 =
    # 115000 bp -> 11 full copies + gated 12th for each of 40 rows
    rare = by_dom["rare"]
    assert rare[0]["rate_bp"] == 460 * 10000 // 40 == 115000
    per_doc: dict = {}
    for r in rare:
        per_doc.setdefault(r["doc_id"], set()).add(r["rep"])
    assert len(per_doc) == 40                      # every rare row kept
    for reps in per_doc.values():
        assert reps in (set(range(11)), set(range(12)))
    assert 40 * 11 <= len(rare) <= 40 * 12
    # big: rate = 460*1e4//1800 = 2555 bp < 1e4 -> plain downsample,
    # rep always 0
    big = by_dom["big"]
    assert big[0]["rate_bp"] == 2555
    assert all(r["rep"] == 0 for r in big) and 350 < len(big) < 570
    # determinism
    again = sampling.mixture_sample_upsample(
        docs, "domain", {"big": 5000, "rare": 5000},
        out_fraction_bp=5000).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_mixture_sample_single_corpus_scan(spark, sf_dir):
    """r5 VERDICT wrong #3 'done' gate: the rates derivation no longer
    scans the corpus twice — the total comes from sum(_cnt) over the
    tiny counts table, so the whole plan reads the documents relation
    exactly twice (once for counts, once for the gated output), not
    three times."""
    from pyspark.sql import functions as F

    from powerpoint_context_extractor_spark.operators import sampling
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id",
                    F.format_string("d%d", F.col("doc_id") % 5)
                    .alias("domain")))
    out = sampling.mixture_sample(docs, "domain", {"d0": 5000, "d1": 5000})
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    n_scans = plan.count("Relation")
    assert n_scans == 2, f"expected 2 corpus scans, plan has {n_scans}:\n{plan}"


def test_zlib_ratio_matches_committed_golden(spark, sf_dir):
    """r6 (r5 VERDICT #7): the two rows-only driver queries
    (text_zlib_ratio, capstone_web_pipeline_v2) have no DuckDB value
    oracle — this committed golden (doc_id -> raw/zlib/ratio at
    sf0.001) pins their VALUES across rounds, so a silent zlib/codec
    drift can't hide behind rows-only forever. capstone_v2's
    zlib_pass is a pure band over the same ratio_bp, so the pin
    covers it transitively."""
    import json
    import os
    if os.path.basename(sf_dir) != "sf0.001":
        import pytest as _pytest
        _pytest.skip("golden frozen at sf0.001")
    import __spark_entry__ as entry_mod
    with open(os.path.join(os.path.dirname(__file__), "fixtures",
                           "zlib_golden.json")) as f:
        golden = json.load(f)
    got = {str(r["doc_id"]): [r["raw_len"], r["zlib_len"], r["ratio_bp"]]
           for r in entry_mod._text_zlib_ratio(spark, sf_dir).collect()}
    assert got == golden


def test_compression_ratio_deterministic_and_discriminative(spark):
    """r5 zlib quality signal: dual-run bit-identical (fixed level ->
    pure function of input bytes), integer-exact ratio math, and the
    signal actually separates template spam from natural text."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near a river"),
        (1, " ".join(["spam"] * 200)),
        (2, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, textstats.compression_ratio(df).collect()))
    b = sorted(map(tuple, textstats.compression_ratio(df).collect()))
    assert a == b                                   # dual-run determinism
    out = {r[0]: r for r in a}
    import zlib as _zlib
    raw0 = rows[0][1].encode()
    assert out[0][1] == len(raw0)
    assert out[0][2] == len(_zlib.compress(raw0, 6))
    assert out[0][3] == out[0][2] * 10000 // out[0][1]
    # template spam is hyper-compressible; natural text is not
    assert out[1][3] < 500 < out[0][3]
    assert out[2][1] == 0 and out[2][3] is None     # empty text guarded
    """Lee-et-al-style duplicated-span stats (r5): exact window math on
    a hand-checkable corpus — doc 0 and doc 1 share a 10-token span
    (all 3 of its 8-token windows duplicate), doc 2 is unique, doc 3
    is shorter than k (whole text = one window, unique)."""
    shared = " ".join(f"s{j}" for j in range(10))
    rows = [
        (0, shared + " " + " ".join(f"a{j}" for j in range(6))),
        (1, " ".join(f"b{j}" for j in range(4)) + " " + shared),
        (2, " ".join(f"c{j}" for j in range(16))),
        (3, "tiny doc"),
    ]
    out = {r["doc_id"]: r for r in dedup.substring_dedup_stats(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    # doc 0: 16 tokens -> 9 windows; windows starting at 0,1,2 lie
    # fully inside the shared span -> 3 duplicated
    assert (out[0]["n_windows"], out[0]["dup_windows"]) == (9, 3)
    assert out[0]["dup_bp"] == 3 * 10000 // 9
    # doc 1: shared span occupies positions 4..13 -> windows 4,5,6
    assert (out[1]["n_windows"], out[1]["dup_windows"]) == (7, 3)
    assert (out[2]["n_windows"], out[2]["dup_windows"]) == (9, 0)
    assert (out[3]["n_windows"], out[3]["dup_windows"]) == (1, 0)
    # within-doc repeats do NOT count as cross-doc duplication
    solo = [(9, " ".join(["x"] * 20))]
    r = dedup.substring_dedup_stats(
        spark.createDataFrame(solo, "doc_id long, text string")).collect()[0]
    assert (r["n_windows"], r["dup_windows"]) == (13, 0)


def test_substring_dedup_plan_shape(spark):
    """r5: same scale gates as paragraph_dedup — windows are assembled
    map-side (no Window operator, no token shuffle), the frequency is
    the salted two-stage aggregate, and only digest keys feed it."""
    import contextlib
    import io
    import re
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(30))) for i in range(40)],
        "doc_id long, text string")
    out = dedup.substring_dedup_stats(docs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan, plan
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) <= 4, plan


def test_substring_trim_merges_overlapping_spans(spark):
    """r6 (r5 VERDICT #3): duplicated windows merge into token spans
    and the trimmed text is the kept tokens in document order —
    partial overlap trims a middle span, a fully-shared doc trims to
    md5(''), an untouched doc keeps its exact text hash, and a short
    (<k) doc duplicated as a whole trims entirely."""
    import hashlib
    shared = " ".join(f"s{j}" for j in range(10))     # 10 shared tokens
    a_pre = " ".join(f"a{j}" for j in range(6))
    a_post = " ".join(f"z{j}" for j in range(6))
    rows = [
        (0, f"{a_pre} {shared} {a_post}"),   # shared span mid-doc
        (1, shared),                         # exactly the shared text
        (2, " ".join(f"u{j}" for j in range(15))),   # unique
        (3, "tiny doc"), (4, "tiny doc"),    # short whole-window dup
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.substring_dedup_trim(
        docs).collect()}
    # doc 0: windows starting in the shared run match doc 1's windows.
    # shared tokens are positions 7..16 of doc 0; duplicated windows
    # are those fully inside the shared run: starts 7,8,9 -> cover
    # tokens 7..16 exactly (10 removed)
    assert (out[0]["n_tokens"], out[0]["removed_tokens"]) == (22, 10)
    kept = f"{a_pre} {a_post}"
    assert out[0]["clean_md5"] == hashlib.md5(kept.encode()).hexdigest()
    # doc 1 is wholly shared -> fully trimmed
    assert out[1]["removed_tokens"] == 10
    assert out[1]["clean_md5"] == hashlib.md5(b"").hexdigest()
    # unique doc untouched, hash of its own text
    assert out[2]["removed_tokens"] == 0
    assert out[2]["clean_md5"] == hashlib.md5(
        rows[2][1].encode()).hexdigest()
    # short docs: one whole-text window each, duplicated across 3 & 4
    for i in (3, 4):
        assert (out[i]["n_tokens"], out[i]["removed_tokens"]) == (2, 2)
        assert out[i]["clean_md5"] == hashlib.md5(b"").hexdigest()


def test_paragraph_dedup_survives_hot_paragraph_skew(spark):
    """r4 VERDICT "what's wrong" #1 'done' gate: one boilerplate
    paragraph present in >=30% of docs (the exact shape the operator
    hunts) — results stay correct and the hot key flows through the
    skew-splittable join, not a single-task window."""
    import hashlib
    boiler = " ".join(f"cookie{j}" for j in range(20))
    rows = []
    for i in range(200):
        uniq = " ".join(f"u{i}_{j}" for j in range(20))
        # 40% of docs lead with the same boilerplate paragraph
        text = (boiler + " " + uniq) if i % 5 < 2 else uniq
        rows.append((i, text))
    out = {r["doc_id"]: r for r in dedup.paragraph_dedup(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert len(out) == 200
    for i in range(200):
        r = out[i]
        if i % 5 < 2:
            assert (r["total_paras"], r["kept_paras"]) == (2, 1)
        else:
            assert (r["total_paras"], r["kept_paras"]) == (1, 1)
        uniq = " ".join(f"u{i}_{j}" for j in range(20))
        assert r["clean_md5"] == hashlib.md5(uniq.encode()).hexdigest()


def test_token_chunks_windows_and_overlap(spark):
    """Sliding-window chunking edges (r4): short doc -> one chunk;
    exact window -> one chunk; window+1 -> two overlapping chunks whose
    bodies follow [k*stride, k*stride+window); final chunk short."""
    import hashlib
    toks = lambda n: " ".join(f"t{i}" for i in range(n))  # noqa: E731
    rows = [(0, toks(5)), (1, toks(64)), (2, toks(65)), (3, toks(200))]
    out = {}
    for r in textstats.token_chunks(
            spark.createDataFrame(rows, "doc_id long, text string")).collect():
        out.setdefault(r["doc_id"], []).append(r)
    for did in out:
        out[did].sort(key=lambda r: r["chunk_id"])
    assert [r["n_tokens"] for r in out[0]] == [5]
    assert [r["n_tokens"] for r in out[1]] == [64]
    assert [r["n_tokens"] for r in out[2]] == [64, 17]   # overlap of 47+17
    # 200 tokens: chunks at 0,48,96,144 -> 1+ceil((200-64)/48)=4
    assert [r["n_tokens"] for r in out[3]] == [64, 64, 64, 56]
    words = [f"t{i}" for i in range(200)]
    for k, r in enumerate(out[3]):
        body = " ".join(words[k * 48:k * 48 + 64])
        assert r["chunk_md5"] == hashlib.md5(body.encode()).hexdigest()


def test_split_sentences_rule(spark):
    """Frozen segmentation rule: maximal non-terminator runs + trailing
    terminator run, trimmed, empties dropped; multi-terminator runs
    ('?!', '...') stay attached to their sentence."""
    rows = [(0, "One. Two! Three?"),
            (1, "No terminators here"),
            (2, "Wait... what?! Ok."),
            (3, "..."),     # terminators only: no [^.!?]+ run -> no rows
            (4, "")]                         # empty -> no rows
    out = {}
    for r in textstats.split_sentences(
            spark.createDataFrame(rows, "doc_id long, text string")).collect():
        out.setdefault(r["doc_id"], []).append(r)
    import hashlib
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert [r["sent_md5"] for r in sorted(out[0], key=lambda r: r["sent_id"])] \
        == [md5("One."), md5("Two!"), md5("Three?")]
    assert [r["sent_md5"] for r in out[1]] == [md5("No terminators here")]
    assert [r["sent_md5"] for r in sorted(out[2], key=lambda r: r["sent_id"])] \
        == [md5("Wait..."), md5("what?!"), md5("Ok.")]
    assert 3 not in out and 4 not in out


def test_chunking_and_sentences_are_shuffle_free(spark):
    """Both r4 text preps must run at scan speed: no Exchange anywhere
    in their physical plans."""
    import contextlib
    import io
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}." for j in range(120))) for i in range(10)],
        "doc_id long, text string")
    for op in (lambda d: textstats.token_chunks(d),
               lambda d: textstats.split_sentences(d)):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            op(docs).explain("formatted")
        assert "Exchange" not in buf.getvalue()


def test_quality_score_v2_gopher_rules(spark):
    """Each Gopher rule trips independently (r4 VERDICT #7): a clean
    passing doc, too-short, giant-word (mean word length), symbol spam,
    digit words (alpha fraction), and missing stop words."""
    good = ("the data of systems " * 13).strip()        # 52 words, stops
    rows = [
        (0, good),                                       # passes all
        (1, "the of short text"),                        # < 50 words
        (2, good.replace(" ", "")),                      # one giant word
        (3, good + " " + ("### ... " * 8).strip()),      # symbol spam
        (4, " ".join(["123"] * 50) + " the of"),         # alpha < 80%
        (5, ("alpha beta gamma delta " * 13).strip()),   # no gopher stops
    ]
    out = {r["doc_id"]: r for r in textstats.quality_score_v2(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[0]["gopher_pass"] == 1
    assert out[1]["gopher_pass"] == 0 and out[1]["n_words"] < 50
    assert out[2]["gopher_pass"] == 0 and out[2]["mean_wl_x100"] > 1000
    assert out[3]["gopher_pass"] == 0 and out[3]["symbol_bp"] > 1000
    assert out[4]["gopher_pass"] == 0 and out[4]["alpha_bp"] < 8000
    assert out[5]["gopher_pass"] == 0 and out[5]["n_stop_distinct"] < 2


def test_repetition_stats_flags_looped_text(spark):
    rows = [(0, " ".join(["spam ham"] * 25)),            # one bigram looped
            (1, " ".join(f"w{i}" for i in range(40))),   # all distinct
            (2, "single")]                               # no bigrams
    out = {r["doc_id"]: r for r in textstats.repetition_stats(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[0]["flagged"] == 1 and out[0]["dup_bigrams"] > 0
    assert out[0]["n_bigrams"] == 49                     # 50 tokens
    assert out[1]["flagged"] == 0 and out[1]["dup_bigrams"] == 0
    assert out[2]["n_bigrams"] == 0 and out[2]["flagged"] == 0


def test_robots_prefix_filter(spark):
    from powerpoint_context_extractor_spark.operators import robots
    pages = spark.createDataFrame(
        [(0, "a.io", "/private/x"), (1, "a.io", "/pub/x"),
         (2, "b.io", "/private/x"), (3, "a.io", "/privateer")],
        "doc_id long, host string, path string")
    rb = spark.createDataFrame(
        [("a.io", "User-agent: *\nDisallow: /private\nCrawl-delay: 2"),
         ("c.io", "User-agent: *\nDisallow: /")],
        "host string, robots_txt string")
    out = {r["doc_id"]: r["allowed"]
           for r in robots.apply_robots(pages, rb).collect()}
    # prefix semantics: /privateer IS blocked by /private (robots.txt
    # path rules are plain prefixes); unknown host b.io allows all
    assert out == {0: 0, 1: 1, 2: 1, 3: 0}
    # empty Disallow line = allow-all marker, never a '' prefix rule
    rb2 = spark.createDataFrame([("a.io", "User-agent: *\nDisallow:\n")],
                                "host string, robots_txt string")
    out2 = {r["doc_id"]: r["allowed"]
            for r in robots.apply_robots(pages, rb2).collect()}
    assert all(v == 1 for v in out2.values())


def test_robots_group_scoping_and_crlf(spark):
    """ADVICE r3: only the 'User-agent: *' group's rules apply, and
    CRLF bodies parse (rules no longer keep a trailing \\r that breaks
    prefix matching)."""
    from powerpoint_context_extractor_spark.operators import robots
    pages = spark.createDataFrame(
        [(0, "a.io", "/private/x"), (1, "a.io", "/bots-only/x"),
         (2, "b.io", "/private/x"), (3, "c.io", "/private/x"),
         (4, "d.io", "/private/x"), (5, "e.io", "/private/x"),
         (6, "e.io", "/Private/x")],
        "doc_id long, host string, path string")
    rb = spark.createDataFrame([
        # googlebot group first; its rule must NOT leak into *
        ("a.io", "User-agent: googlebot\nDisallow: /bots-only\n\n"
                 "User-agent: *\nDisallow: /private\n"),
        # CRLF body: the rule must prefix-match without a trailing \r
        ("b.io", "User-agent: *\r\nDisallow: /private\r\nCrawl-delay: 1\r\n"),
        # stacked User-agent lines: * anywhere in the block activates it
        ("c.io", "User-agent: googlebot\nUser-agent: *\nDisallow: /private\n"),
        # no * group at all -> nothing blocked
        ("d.io", "User-agent: googlebot\nDisallow: /private\n"),
        # r4 ADVICE #3: lowercase directive KEYS match (RFC 9309 keys
        # are case-insensitive) but rule TARGETS stay case-sensitive
        ("e.io", "user-agent: *\ndisallow: /private\n"),
    ], "host string, robots_txt string")
    out = {r["doc_id"]: r["allowed"]
           for r in robots.apply_robots(pages, rb).collect()}
    assert out == {0: 0, 1: 1, 2: 0, 3: 0, 4: 1, 5: 0, 6: 1}


def test_png_resize_nn_exact():
    from powerpoint_context_extractor_spark.operators.multimodal import (
        PNG_H, PNG_W, png_payload_for_doc,
    )
    from powerpoint_context_extractor_spark.png import decode_png, resize_nn
    # doc 8 -> grayscale payload (8 % 4 == 0, r6 rule)
    w, h, ch, px = decode_png(png_payload_for_doc(8))
    assert (w, h, ch) == (PNG_W, PNG_H, 1)
    r = resize_nn(w, h, px, 4, 4)
    want = bytes((8 * 31 + (2 * y) * 16 + 4 * x) % 256
                 for y in range(4) for x in range(4))
    assert r == want
    # identity resize round-trips; upscale replicates
    assert resize_nn(w, h, px, w, h) == px
    up = resize_nn(2, 1, bytes([10, 200]), 4, 1)
    assert up == bytes([10, 10, 200, 200])
    # RGB (r4): doc 5 (5 % 4 == 1) -> 3 channels; floor-index per channel
    w3, h3, ch3, px3 = decode_png(png_payload_for_doc(5))
    assert (w3, h3, ch3) == (PNG_W, PNG_H, 3)
    r3 = resize_nn(w3, h3, px3, 4, 4, channels=3)
    want3 = bytes((5 * 31 + ((2 * y) * 16 + 4 * x) * 3 + c) % 256
                  for y in range(4) for x in range(4) for c in range(3))
    assert r3 == want3
    # palette (r5): doc 6 (6 % 4 == 2) decodes to PLTE-expanded RGB
    from powerpoint_context_extractor_spark.operators.multimodal import (
        PNG_PALETTE,
    )
    wp, hp, chp, pxp = decode_png(png_payload_for_doc(6))
    assert (wp, hp, chp) == (PNG_W, PNG_H, 3)
    rp = resize_nn(wp, hp, pxp, 4, 4, channels=3)
    wantp = bytes(PNG_PALETTE[(6 * 31 + (2 * y) * 16 + 4 * x) % 16][c]
                  for y in range(4) for x in range(4) for c in range(3))
    assert rp == wantp
    # RGBA (r6): doc 7 (7 % 4 == 3) -> 4 channels, alpha rides along
    w4, h4, ch4, px4 = decode_png(png_payload_for_doc(7))
    assert (w4, h4, ch4) == (PNG_W, PNG_H, 4)
    r4 = resize_nn(w4, h4, px4, 4, 4, channels=4)
    want4 = bytes((7 * 31 + ((2 * y) * 16 + 4 * x) * 4 + c) % 256
                  for y in range(4) for x in range(4) for c in range(4))
    assert r4 == want4
    # channel-aware upscale keeps pixels (triples) intact
    up3 = resize_nn(2, 1, bytes([1, 2, 3, 9, 8, 7]), 4, 1, channels=3)
    assert up3 == bytes([1, 2, 3, 1, 2, 3, 9, 8, 7, 9, 8, 7])


def test_reservoir_two_level_equals_one_level(spark):
    """r6: the two-level bucket top-k in reservoir_sample is exactly
    the one-level hash-rank top-k (the oracle formulation), including
    on a hot stratum and a stratum smaller than k; dual-run stable."""
    from pyspark.sql import Window as W

    from powerpoint_context_extractor_spark.operators import sampling
    from powerpoint_context_extractor_spark.operators.dedup import (
        portable_hash,
    )
    # hot stratum: 70% of rows in s0; s2 has only 3 rows (< k)
    rows = ([(i, "s0") for i in range(700)]
            + [(1000 + i, "s1") for i in range(297)]
            + [(5000 + i, "s2") for i in range(3)])
    docs = spark.createDataFrame(rows, "doc_id long, stratum string")
    out = sampling.reservoir_sample(docs, "stratum", k=10).collect()
    h = portable_hash(F.format_string("res%d", F.col("doc_id")))
    w = W.partitionBy("stratum").orderBy("_h", "doc_id")
    want = (docs.withColumn("_h", h)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 10)
            .select("doc_id", "stratum", F.col("rk").cast("long"))
            .collect())
    assert sorted(map(tuple, out)) == sorted(map(tuple, want))
    by_s: dict = {}
    for r in out:
        by_s.setdefault(r["stratum"], []).append(r["rk"])
    assert sorted(by_s["s0"]) == list(range(1, 11))
    assert sorted(by_s["s1"]) == list(range(1, 11))
    assert sorted(by_s["s2"]) == [1, 2, 3]        # undersized stratum
    again = sampling.reservoir_sample(docs, "stratum", k=10).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    with pytest.raises(ValueError, match="reservoir"):
        sampling.reservoir_sample(docs, "stratum", k=0)


def test_cdx_spans_are_real_and_surt_twins_agree(spark, tmp_path):
    """r6: (a) the Spark SURT expression and the Python twin agree on
    tricky URLs (www-strip, mixed case, query strings, schemeless
    fallback); (b) every CDX entry's recorded (offset, length) span,
    fetched ALONE from the file, inflates to exactly one record whose
    URI and payload digest match the index row; (c) CDX part files
    are sorted by urlkey."""
    import hashlib

    from powerpoint_context_extractor_spark.operators.urltools import (
        surt_key_py,
    )
    from powerpoint_context_extractor_spark.sources.warc import (
        index_warc_files, read_cdx, write_cdx, write_extracted_as_wet,
    )
    urls = ["https://www.News.example/Docs/5?q=1",
            "http://a.b.co.uk/", "https://x.example/p#frag",
            "ftp://files.example/pub", "no-scheme-at-all",
            "https://single/"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: r["k"] for r in
           df.select("url", surt_key(F.col("url")).alias("k")).collect()}
    for u in urls:
        assert got[u] == surt_key_py(u), u
    assert got[urls[0]] == "example,news)/Docs/5?q=1"
    # build a WET + CDX and verify spans by ranged fetch
    rows = spark.createDataFrame(
        [(f"https://h{i % 3}.example/d/{i}", f"text body {i}")
         for i in range(20)], "url string, text string")
    wet_dir = str(tmp_path / "wet")
    cdx_dir = str(tmp_path / "cdx")
    write_extracted_as_wet(rows, wet_dir, n_files=2)
    idx = index_warc_files(spark, wet_dir, "*.wet.warc*")
    write_cdx(idx, cdx_dir, n_files=2)
    entries = read_cdx(spark, cdx_dir).collect()
    assert len(entries) == 20
    for e in entries:
        headers, payload = fetch_cdx_record(wet_dir, e["filename"],
                                            e["offset"], e["length"])
        assert headers["warc-target-uri"] == e["url"]
        assert ("sha256:" + hashlib.sha256(payload).hexdigest()[:16]
                == e["digest"])
        assert surt_key_py(e["url"]) == e["urlkey"]
    import glob as _glob
    for part in _glob.glob(f"{cdx_dir}/part-*"):
        with open(part) as f:
            keys = [ln.split(" ", 1)[0] for ln in f if ln.strip()]
        assert keys == sorted(keys), part


def test_theta_sketch_estimate_and_merge(spark):
    """r6: the KMV estimate lands within 3/sqrt(k) relative error of
    the true distinct count on a 4000-key group; an under-k group
    returns its exact count; merging two halves' sketches (union,
    dedup, keep k smallest) equals the whole-table sketch; k<2
    raises."""
    from powerpoint_context_extractor_spark.operators.sketches import (
        theta_sketch,
    )
    rows = ([("big", f"key{i}") for i in range(4000)]
            + [("small", f"s{i}") for i in range(7)])
    df = spark.createDataFrame(rows, "grp string, k string")
    sk = theta_sketch(df, "k", "grp", k=64).collect()
    by_grp: dict = {}
    for r in sk:
        by_grp.setdefault(r["grp"], []).append(r)
    assert len(by_grp["big"]) == 64
    est = by_grp["big"][0]["est"]
    assert abs(est - 4000) / 4000 < 3 / (64 ** 0.5), est
    assert len(by_grp["small"]) == 7
    assert by_grp["small"][0]["est"] == 7
    # merge property: sketch(half1 U half2) == sketch(whole)
    whole = sorted((r["rank"], r["hval"]) for r in by_grp["big"])
    h1 = spark.createDataFrame(rows[:2000], "grp string, k string")
    h2 = spark.createDataFrame(rows[2000:4000], "grp string, k string")
    merged_hashes = sorted(set(
        r["hval"] for r in theta_sketch(h1, "k", "grp", k=64).collect()
    ) | set(
        r["hval"] for r in theta_sketch(h2, "k", "grp", k=64).collect()
    ))[:64]
    assert [h for _rk, h in whole] == merged_hashes
    with pytest.raises(ValueError, match="theta"):
        theta_sketch(df, "k", "grp", k=1)


def test_confusable_skeleton_collides_spoofs(spark):
    """r6: the Cyrillic 'раураl' and ASCII 'paypal' produce the SAME
    skeleton md5 (the spoof-detection property), differ in
    n_confusables/flagged, and clean ASCII is untouched."""
    from powerpoint_context_extractor_spark.operators.textstats import (
        confusable_skeleton,
    )
    spoof = "раураl"
    docs = spark.createDataFrame(
        [(0, "paypal"), (1, spoof), (2, "hello world")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in confusable_skeleton(docs).collect()}
    assert rows[0]["skeleton_md5"] == rows[1]["skeleton_md5"]
    assert (rows[0]["n_confusables"], rows[0]["flagged"]) == (0, 0)
    assert (rows[1]["n_confusables"], rows[1]["flagged"]) == (5, 1)
    assert rows[2]["n_confusables"] == 0
    import hashlib
    assert rows[2]["skeleton_md5"] == hashlib.md5(
        b"hello world").hexdigest()


def test_dpp_prunes_partitions_at_runtime(spark, sf_dir, tmp_path):
    """r6: joining a lang-partitioned fact to a filtered dim on the
    partition column injects a dynamicpruning PartitionFilter into
    the fact scan — only surviving lang directories are read."""
    out = str(tmp_path / "fact")
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", "lang"))
    d.write.mode("overwrite").partitionBy("lang").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("en", 1), ("de", 1), ("fr", 0)], "lang string, keep int")
    q = (fact.join(dim.filter(F.col("keep") == 1), "lang")
         .groupBy("lang").agg(F.count(F.lit(1)).alias("n")))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    got = {r["lang"]: r["n"] for r in q.collect()}
    want = {r["lang"]: r["n"] for r in
            d.filter(F.col("lang").isin("en", "de"))
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
            .collect()}
    assert got == want and set(got) == {"en", "de"}


def test_orc_roundtrip_pushes_filters(spark, sf_dir, tmp_path):
    """r6: the ORC read path pushes both predicates into the scan
    (PushedFilters in the physical plan) and round-trips values
    exactly."""
    out = str(tmp_path / "orc")
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", "lang", "n_chars"))
    d.write.mode("overwrite").orc(out)
    q = (spark.read.orc(out)
         .filter((F.col("lang") == "en") & (F.col("n_chars") > 400)))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_chars" in plan.split(
        "PushedFilters")[1][:200]
    want = sorted(r["doc_id"] for r in d.filter(
        (F.col("lang") == "en") & (F.col("n_chars") > 400)).collect())
    assert sorted(r["doc_id"] for r in q.collect()) == want


def test_funnel_strict_ordering(spark):
    """r6: funnel_counts — a user whose click PRECEDES their first
    view doesn't reach step 2 (strict after), equal timestamps don't
    count, and the reach time is the EARLIEST qualifying event (a
    later click must not unlock an earlier purchase)."""
    from datetime import datetime

    from powerpoint_context_extractor_spark.operators.analytics import (
        funnel_counts,
    )

    def ts(s):
        return datetime(2024, 1, 1, 0, 0, s)

    rows = [
        # u1: full ordered funnel
        (1, ts(1), "view"), (1, ts(2), "click"), (1, ts(3), "purchase"),
        # u2: click before view -> stops at step 1
        (2, ts(5), "click"), (2, ts(6), "view"),
        # u3: click at the SAME second as view -> strict > fails
        (3, ts(7), "view"), (3, ts(7), "click"),
        # u4: purchase between view and click -> not after reach(click)
        (4, ts(1), "view"), (4, ts(2), "purchase"), (4, ts(3), "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string")
    got = {r["step"]: r["n_users"]
           for r in funnel_counts(ev, ["view", "click",
                                       "purchase"]).collect()}
    assert got == {"view": 4, "click": 2, "purchase": 1}
    with pytest.raises(ValueError, match="funnel"):
        funnel_counts(ev, ["view"])


def test_retention_cohorts_matrix(spark):
    """r6: retention_cohorts — users cohort on their first signup
    week, later-week activity fills offsets, pre-signup activity is
    excluded, and users without the anchor event never appear."""
    from datetime import datetime, timedelta

    from powerpoint_context_extractor_spark.operators.analytics import (
        retention_cohorts,
    )
    base = datetime(2024, 1, 4)            # mid-week anchor

    def at(days):
        return base + timedelta(days=days)

    rows = [
        (1, at(0), "signup"), (1, at(1), "view"), (1, at(8), "click"),
        (2, at(0), "signup"), (2, at(15), "view"),
        (3, at(-3), "view"), (3, at(0), "signup"),   # pre-signup view
        (4, at(2), "view"),                           # never signs up
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string")
    got = {(r["cohort_week"] is not None, r["week_offset"]): r["n_users"]
           for r in retention_cohorts(ev, "signup").collect()}
    # all three signups share one cohort week; offsets: week 0 has
    # u1,u2,u3 (signup itself counts as activity), week 1 has u1,
    # week 2 has u2; u3's pre-signup view and u4 never appear
    assert got == {(True, 0): 3, (True, 1): 1, (True, 2): 1}


def test_theta_intersect_estimates_overlap(spark):
    """r6: the KMV intersection estimate lands near a planted
    1000-key overlap between two 3000-key groups; fully disjoint
    groups still emit exactly ONE row with n_common=0 and estimate 0
    (r7 / r6-ADVICE contract — never an empty frame)."""
    from powerpoint_context_extractor_spark.operators.sketches import (
        theta_intersect,
    )
    rows = ([("ga", f"shared{i}") for i in range(1000)]
            + [("gb", f"shared{i}") for i in range(1000)]
            + [("ga", f"a{i}") for i in range(2000)]
            + [("gb", f"b{i}") for i in range(2000)])
    df = spark.createDataFrame(rows, "grp string, k string")
    out = theta_intersect(df, "k", "grp", "ga", "gb", k=256).collect()
    assert len(out) == 1
    est = out[0]["est_intersection"]
    assert 400 <= est <= 1800, est          # ~1000 within KMV noise
    dis = spark.createDataFrame(
        [("ga", f"a{i}") for i in range(500)]
        + [("gb", f"b{i}") for i in range(500)], "grp string, k string")
    empty = theta_intersect(dis, "k", "grp", "ga", "gb", k=64).collect()
    assert len(empty) == 1
    assert empty[0]["n_common"] == 0
    assert empty[0]["est_intersection"] == 0
    assert empty[0]["theta"] is not None and empty[0]["theta"] > 0


def test_count_min_overestimates_and_merges(spark):
    """r6: CM point estimates are NEVER below the true count, the hot
    key's estimate is exact-or-near on a skewed stream, and cell-wise
    SUM of two halves' sketches equals the whole sketch (linearity)."""
    from powerpoint_context_extractor_spark.operators.sketches import (
        count_min_sketch,
    )
    rows = ([("hot",)] * 500
            + [(f"k{i % 40}",) for i in range(800)])
    df = spark.createDataFrame(rows, "k string")
    cells = {(r["row"], r["col"]): r["cnt"]
             for r in count_min_sketch(df, "k", w=256).collect()}
    truth = {"hot": 500}
    for i in range(40):
        truth[f"k{i}"] = 20
    for key, t in truth.items():
        est = count_min_estimate(cells, key, w=256, d=4)
        assert est >= t, (key, est, t)
        assert est <= t + 800 * 4 // 256 + 1, (key, est, t)  # CM bound-ish
    h1 = spark.createDataFrame(rows[:650], "k string")
    h2 = spark.createDataFrame(rows[650:], "k string")
    merged: dict = {}
    for half in (h1, h2):
        for r in count_min_sketch(half, "k", w=256).collect():
            merged[(r["row"], r["col"])] = \
                merged.get((r["row"], r["col"]), 0) + r["cnt"]
    assert merged == cells
    with pytest.raises(ValueError, match="count_min"):
        count_min_sketch(df, "k", w=1)


def test_interval_join_banded_equals_nested_loop(spark):
    """r6: the banded interval join equals the raw inequality join
    for several band widths (boundary points land in one bucket,
    intervals crossing bucket edges still match, empty intervals
    match nothing, pairs never duplicate), the physical plan is a
    real hash/merge join — NOT BroadcastNestedLoop — and an interval
    wider than max_spans buckets raises instead of exploding."""
    from powerpoint_context_extractor_spark.operators.joins import (
        interval_join,
    )
    pts = spark.createDataFrame(
        [(u, i, 10 * i + u) for u in (1, 2) for i in range(40)],
        "user_id long, pid long, t long")
    ivs = spark.createDataFrame(
        [(1, 100, 0, 64),        # ends exactly on a band=64 edge
         (1, 101, 64, 65),       # one-second interval at the edge
         (1, 102, 63, 63),       # empty: matches nothing
         (2, 200, 30, 300),      # spans several buckets
         (2, 201, 130, 131)],
        "user_id long, iv_id long, s long, e long")
    want = sorted(
        (r["user_id"], r["pid"], r["iv_id"]) for r in
        pts.alias("p").join(
            ivs.alias("i"),
            (F.col("p.user_id") == F.col("i.user_id"))
            & (F.col("p.t") >= F.col("i.s"))
            & (F.col("p.t") < F.col("i.e"))).select(
                "p.user_id", "p.pid", "i.iv_id").collect())
    assert want, "fixture must produce matches"
    for band in (1, 7, 64, 1000):
        got = interval_join(pts, ivs, "t", "s", "e", keys=["user_id"],
                            band=band)
        rows = sorted((r["user_id"], r["pid"], r["iv_id"])
                      for r in got.collect())
        assert rows == want, f"band={band}"
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    with pytest.raises(Exception, match="max_spans"):
        interval_join(pts, ivs, "t", "s", "e", keys=["user_id"],
                      band=1, max_spans=10).collect()


def test_tfidf_topk_ranks_rare_terms_first(spark):
    """r6: a term unique to one doc must outrank corpus-wide filler
    with higher tf (idf = n_docs div df dominates), ties break
    lexicographically, short tokens are dropped, and k < 1 raises."""
    from powerpoint_context_extractor_spark.operators.textstats import (
        tfidf_topk,
    )
    filler = "common words appear here " * 4          # df = 4 each
    docs = spark.createDataFrame(
        [(0, filler + "zebra"), (1, filler), (2, filler), (3, filler)],
        "doc_id long, text string")
    rows = {(r["doc_id"], r["rank"]): (r["term"], r["score"])
            for r in tfidf_topk(docs, k=2).collect()}
    # doc 0: zebra tf=1 df=1 -> score 4; filler terms tf=4 df=4 -> 4;
    # tie at 4 -> lexicographic: "appear" first, then "common"... so
    # plant a higher-idf margin instead: zebra twice
    docs2 = spark.createDataFrame(
        [(0, filler + "zebra zebra"), (1, filler), (2, filler),
         (3, filler)], "doc_id long, text string")
    rows2 = {(r["doc_id"], r["rank"]): (r["term"], r["score"])
             for r in tfidf_topk(docs2, k=2).collect()}
    assert rows2[(0, 1)] == ("zebra", 8)              # 2 * (4 div 1)
    assert rows2[(0, 2)][0] == "appear"               # tie -> lexicographic
    assert rows[(1, 1)] == ("appear", 4)
    # "here" (4 chars) kept, nothing shorter than 3 appears
    assert all(len(t) >= 3 for t, _ in rows.values())
    with pytest.raises(ValueError, match="tfidf"):
        tfidf_topk(docs, k=0)


def test_anchor_extraction_resolution_contract(spark):
    """r6: extract_anchors keeps absolute/root-relative/protocol-
    relative hrefs (resolving the latter two against the source page),
    drops fragments/mailto/javascript/path-relative/empty-text
    anchors, and collapses anchor whitespace; anchor_text_agg picks
    the most frequent anchor with a lexicographic tie-break."""
    from powerpoint_context_extractor_spark.operators.weblinks import (
        anchor_text_agg, extract_anchors,
    )
    html1 = ('<a href="https://t1.example/a">One</a>'
             '<a href="/p/2">  two   words </a>'
             '<a href="//t2.example/x">proto</a>'
             '<a href="#frag">skip</a>'
             '<a href="mailto:a@b">skip</a>'
             '<a href="javascript:void(0)">skip</a>'
             '<a href="rel/path">skip</a>'
             '<a href="https://t1.example/b">   </a>')
    html2 = ('<a href="https://t1.example/c">One</a>'
             '<a href="https://t1.example/d">Alpha</a>')
    pages = spark.createDataFrame(
        [("https://src1.example/page", html1),
         ("http://src2.example/other", html2)],
        "url string, html_str string")
    got = {(r["src_host"], r["target_url"], r["target_host"], r["anchor"])
           for r in extract_anchors(pages).collect()}
    assert got == {
        ("src1.example", "https://t1.example/a", "t1.example", "One"),
        ("src1.example", "https://src1.example/p/2", "src1.example",
         "two words"),
        ("src1.example", "https://t2.example/x", "t2.example", "proto"),
        ("src2.example", "https://t1.example/c", "t1.example", "One"),
        ("src2.example", "https://t1.example/d", "t1.example", "Alpha"),
    }
    agg = {r["target_host"]: (r["n_links"], r["n_src_hosts"],
                              r["top_anchor"])
           for r in anchor_text_agg(extract_anchors(pages)).collect()}
    # t1.example: anchors One(x2 from 2 hosts), Alpha(x1) -> "One";
    # if counts tied, lexicographic would pick "Alpha" — pin the
    # count-first rule here and the tie-break below
    assert agg["t1.example"] == (3, 2, "One")
    assert agg["src1.example"] == (1, 1, "two words")
    tie = spark.createDataFrame(
        [("https://s.example/p",
          '<a href="https://t.example/1">beta</a>'
          '<a href="https://t.example/2">alpha</a>')],
        "url string, html_str string")
    top = anchor_text_agg(extract_anchors(tie)).collect()[0]
    assert top["top_anchor"] == "alpha"          # 1-1 tie -> lexicographic


def test_crawl_delay_group_scoping(spark):
    """r6: crawl-delay honors consecutive-UA group OR-ing ('bot' then
    '*' in ONE group counts), CRLF bodies, last-wins, and numeric-only
    values; a bot-only group's delay never leaks."""
    from powerpoint_context_extractor_spark.operators.robots import (
        parse_crawl_delay,
    )
    bodies = [
        ("a", "User-agent: bot\r\nUser-agent: *\r\nCrawl-delay: 4\r\n"),
        ("b", "User-agent: bot\nCrawl-delay: 9\n"),
        ("c", "User-agent: *\nCrawl-delay: 2\nCrawl-delay: 6\n"),
        ("d", "User-agent: *\nCrawl-delay: 2.5\n"),   # non-integer
    ]
    robots = spark.createDataFrame(
        bodies, "host string, robots_txt string")
    got = {r["host"]: (r["crawl_delay"], r["has_delay"])
           for r in parse_crawl_delay(robots).collect()}
    assert got == {"a": (4, 1), "b": (0, 0), "c": (6, 1), "d": (0, 0)}


def test_robots_sitemap_directives_group_independent(spark):
    """r6: Sitemap: directives parse case-insensitively and
    independently of User-agent groups (RFC 9309 §2.3) — one inside a
    non-* group still counts; hosts without directives emit no rows;
    blank values are dropped."""
    from powerpoint_context_extractor_spark.operators.robots import (
        parse_sitemap_directives,
    )
    bodies = [
        ("a", "User-agent: bot\nSitemap: https://a/s.xml\n"
              "User-agent: *\nDisallow: /\n"
              "SITEMAP:   https://a/s2.xml  \n"),
        ("b", "User-agent: *\nDisallow: /x\n"),
        ("c", "Sitemap:\nsitemap: https://c/s.xml\n"),
    ]
    robots = spark.createDataFrame(bodies, "host string, robots_txt string")
    got = {(r["host"], r["sitemap_url"])
           for r in parse_sitemap_directives(robots).collect()}
    assert got == {("a", "https://a/s.xml"), ("a", "https://a/s2.xml"),
                   ("c", "https://c/s.xml")}


def test_expectations_single_pass_and_null_semantics(spark):
    """r6: check_expectations — NULL predicate results count as
    violations, uniqueness counts rows beyond the first per value
    (NULLs ignored), passing and failing rules coexist, the whole
    gate is ONE aggregation (a single scan in the plan), and no
    rules raises."""
    from powerpoint_context_extractor_spark.operators.expectations import (
        check_expectations,
    )
    df = spark.createDataFrame(
        [(1, "a", 5), (2, "b", None), (2, "c", -1), (None, "d", 7)],
        "k long, s string, v int")
    out = check_expectations(
        df, rules=[("v_pos", "v > 0"), ("s_nonempty", "length(s) > 0")],
        unique_cols=["k"])
    got = {r["rule"]: (r["n_violations"], r["passed"])
           for r in out.collect()}
    # v > 0: -1 violates, NULL v violates -> 2
    assert got == {"v_pos": (2, 0), "s_nonempty": (0, 1),
                   "unique:k": (1, 0)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]   # AQE prints both
    assert final.count("Scan ExistingRDD") == 1
    with pytest.raises(ValueError, match="no rules"):
        check_expectations(df, rules=[])


def test_html_table_extraction_contract(spark):
    """r6: extract_html_tables — attributes on tr/td survive, <th>
    and <td> both count, rows spanning newlines parse ((?s)),
    whitespace collapses, markup-bearing cells are skipped, and
    multiple tables on one page keep global document-order row
    indices."""
    from powerpoint_context_extractor_spark.operators.weblinks import (
        extract_html_tables,
    )
    html = ('<table><tr class="x">\n<th>A</th><td a="1"> b  c </td>'
            "\n</tr></table>"
            "<table><tr><td>second</td><td><i>no</i></td></tr></table>")
    pages = spark.createDataFrame(
        [("u1", html)], "url string, html_str string")
    got = sorted((r["row_idx"], r["col_idx"], r["cell"])
                 for r in extract_html_tables(pages).collect())
    assert got == [(0, 0, "A"), (0, 1, "b c"), (1, 0, "second")]


def test_sitemap_parse_and_frontier_round_robin(spark):
    """r6: (a) parse_sitemaps handles urlset vs sitemapindex, optional
    lastmod, and drops empty locs; (b) frontier_schedule interleaves
    hosts — the first |hosts| fetch_seq slots hit every host exactly
    once (rank-1 pass before any rank-2), exercising the string-id
    path of global_order_index."""
    from powerpoint_context_extractor_spark.operators.weblinks import (
        frontier_schedule, parse_sitemaps,
    )
    xml1 = ("<urlset><url><loc>https://a.example/1</loc>"
            "<lastmod>2024-02-03</lastmod></url>"
            "<url><loc>https://a.example/2</loc></url>"
            "<url><loc></loc></url></urlset>")
    xml2 = ("<sitemapindex><sitemap><loc>https://b.example/s0.xml"
            "</loc></sitemap></sitemapindex>")
    pages = spark.createDataFrame(
        [("https://a.example/sitemap.xml", xml1),
         ("https://b.example/sitemap.xml", xml2)],
        "url string, xml string")
    got = {(r["sitemap_url"], r["kind"], r["loc"], r["lastmod"])
           for r in parse_sitemaps(pages).collect()}
    assert got == {
        ("https://a.example/sitemap.xml", "urlset",
         "https://a.example/1", "2024-02-03"),
        ("https://a.example/sitemap.xml", "urlset",
         "https://a.example/2", ""),
        ("https://b.example/sitemap.xml", "index",
         "https://b.example/s0.xml", ""),
    }
    # frontier: 3 hosts with 5/3/1 urls
    rows = ([(f"https://h0.x/{i}", "h0.x") for i in range(5)]
            + [(f"https://h1.x/{i}", "h1.x") for i in range(3)]
            + [("https://h2.x/0", "h2.x")])
    urls = spark.createDataFrame(rows, "url string, host string")
    sched = sorted(
        ((r["fetch_seq"], r["host"], r["rank"]) for r in
         frontier_schedule(urls, n_parts=3).collect()))
    assert [s[0] for s in sched] == list(range(9))   # contiguous
    assert {s[1] for s in sched[:3]} == {"h0.x", "h1.x", "h2.x"}
    assert all(s[2] == 1 for s in sched[:3])         # pass 1 first
    assert {s[1] for s in sched[3:5]} == {"h0.x", "h1.x"}  # pass 2


def test_global_order_index_boundary_independent(spark):
    """r6: global_order_index equals the single-window global
    row_number for ANY partition count (1, 3, 8) — the range
    boundaries the sampler picks cannot change the final index —
    including with heavy ties on the leading order column (broken by
    the id) and a skewed value distribution."""
    from pyspark.sql import Window as W

    from powerpoint_context_extractor_spark.operators import sampling
    # 60% of rows tie on v=0 (hot leading key); rest spread 1..400
    rows = ([(i, 0) for i in range(600)]
            + [(1000 + i, 1 + (i * 7) % 400) for i in range(400)])
    docs = spark.createDataFrame(rows, "doc_id long, v long")
    w = W.orderBy("v", "doc_id")
    want = sorted(
        (r["doc_id"], r["gi"]) for r in
        docs.select("doc_id", (F.row_number().over(w) - 1)
                    .cast("long").alias("gi")).collect())
    for n_parts in (1, 3, 8):
        got = sorted(
            (r["doc_id"], r["global_idx"]) for r in
            sampling.global_order_index(
                docs, ["v", "doc_id"], n_parts=n_parts).collect())
        assert got == want, f"n_parts={n_parts}"
    with pytest.raises(ValueError, match="order_cols"):
        sampling.global_order_index(docs, [])


def test_temperature_sample_flattens_shares(spark):
    """r6: T=2 temperature sampling up-weights scarce domains — the
    acceptance rate for a 64-row domain exceeds the natural-share rate,
    the 1600-row domain's is below it, and every rate matches the
    integer isqrt formula."""
    from powerpoint_context_extractor_spark.operators import sampling
    rows = ([(i, "big") for i in range(1600)]
            + [(10000 + i, "rare") for i in range(64)])
    docs = spark.createDataFrame(rows, "doc_id long, domain string")
    out = sampling.temperature_sample(docs, "domain").collect()
    # w(big)=40, w(rare)=8, sum=48; N_out=832
    # quota(big) = 832*40//48 = 693 -> rate 693*1e4//1600 = 4331
    # quota(rare) = 832*8//48 = 138 -> rate 10000 (capped: 138 > 64)
    rates = {r["domain"]: r["rate_bp"] for r in out}
    assert rates == {"big": 4331, "rare": 10000}
    n_rare = sum(1 for r in out if r["domain"] == "rare")
    assert n_rare == 64                      # capped rate keeps all
    n_big = sum(1 for r in out if r["domain"] == "big")
    assert 550 < n_big < 840                 # ~43% hash gate
    # natural share would give both domains rate 5000: rare got 2x+
    assert rates["rare"] > 5000 > rates["big"]


def test_pagerank_star_and_cycle(spark):
    """r6: integer PageRank sanity on known graphs — a 3-cycle stays
    uniform (rank = base + 85% of a full share, constant across
    iterations up to rounding), a star concentrates rank on the hub,
    and total mass never exceeds SCALE; dual-run identical."""
    import pytest as _pytest

    from powerpoint_context_extractor_spark.operators import graph
    cyc = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 0, 1)], "src long, dst long, w long")
    r = {x["node"]: x["rank_scaled"]
         for x in graph.pagerank(cyc, iterations=5).collect()}
    assert len(r) == 3 and len(set(r.values())) == 1
    # uniform orbit: rk+1 = base + (85 * rk) // 100 (floor drift keeps
    # it 1 below the previous value each step — exactness is the point)
    base, rk = ((graph.SCALE // 3) * 15) // 100, graph.SCALE // 3
    for _ in range(5):
        rk = base + (85 * rk) // 100
    assert r[0] == rk
    # star: leaves 1..4 all point at hub 0; hub dangles (mass drops)
    star = spark.createDataFrame(
        [(i, 0, 1) for i in range(1, 5)], "src long, dst long, w long")
    s = {x["node"]: x["rank_scaled"]
         for x in graph.pagerank(star, iterations=3).collect()}
    assert s[0] > s[1] == s[2] == s[3] == s[4]
    assert sum(s.values()) <= graph.SCALE
    # leaves get base only (no in-edges)
    assert s[1] == ((graph.SCALE // 5) * 15) // 100
    again = {x["node"]: x["rank_scaled"]
             for x in graph.pagerank(star, iterations=3).collect()}
    assert s == again
    with _pytest.raises(ValueError, match="pagerank"):
        graph.pagerank(star, iterations=-1)


def test_jpeg_progressive_color_equals_baseline_color():
    """r6: the SOF2 color path (MCU-interleaved DC scan with
    per-component predictors + one non-interleaved AC band scan per
    component) decodes any 4:2:0 image to the SAME RGB bytes as the
    baseline color path; progressive AC scans with multiple
    components stay an honest error (T.81 forbids them)."""
    import random

    import pytest as _pytest

    from powerpoint_context_extractor_spark.jpeg import (
        decode_jpeg, render_jpeg_color, render_jpeg_color_progressive,
    )
    random.seed(23)
    for (w, h) in ((16, 16), (32, 16)):
        for _ in range(4):
            rgb = bytes(random.randrange(256) for _ in range(w * h * 3))
            assert decode_jpeg(render_jpeg_color_progressive(w, h, rgb)) \
                == decode_jpeg(render_jpeg_color(w, h, rgb))
    # MCU-constant (the fixture shape) and gradient
    for rgb in (bytes(((x // 16) * 31 + c * 29) % 256
                      for _ in range(16) for x in range(32)
                      for c in range(3)),
                bytes((x * 2 + y * 3 + c * 5) % 256
                      for y in range(16) for x in range(32)
                      for c in range(3))):
        assert decode_jpeg(render_jpeg_color_progressive(32, 16, rgb)) \
            == decode_jpeg(render_jpeg_color(32, 16, rgb))
    # multi-component AC scan -> honest error: rewrite the Y AC scan's
    # SOS header to claim 3 components (structurally invalid)
    raw = bytearray(render_jpeg_color_progressive(
        16, 16, bytes(128 for _ in range(16 * 16 * 3))))
    # find the second SOS (first AC scan): 1-component header
    first = raw.find(b"\xff\xda")
    second = raw.find(b"\xff\xda", first + 2)
    # splice a fake 3-comp SOS header over the 1-comp one
    hdr = b"\xff\xda\x00\x0c\x03\x01\x00\x02\x10\x03\x10" + bytes([1, 63, 0])
    raw2 = bytes(raw[:second]) + hdr + bytes(raw[second + 10:])
    with _pytest.raises(ValueError, match="single-component"):
        decode_jpeg(raw2)


def test_jpeg_progressive_color_dc_scan_without_components():
    """A progressive color DC scan whose SOS lists no component (Ns = 0)
    is a ``jpeg:`` ValueError, not an IndexError: the first SOS of a
    ``render_jpeg_color_progressive`` output rewritten to Ns = 0."""
    import pytest as _pytest

    from powerpoint_context_extractor_spark.jpeg import (
        decode_jpeg, render_jpeg_color_progressive,
    )
    raw = render_jpeg_color_progressive(
        16, 16, bytes(128 for _ in range(16 * 16 * 3)))
    sos = raw.find(b"\xff\xda")
    end = sos + 2 + int.from_bytes(raw[sos + 2:sos + 4], "big")
    # FF DA Ls=6 Ns=0 Ss=0 Se=0 AhAl=0
    raw = raw[:sos] + b"\xff\xda\x00\x06\x00\x00\x00\x00" + raw[end:]
    with _pytest.raises(ValueError, match="^jpeg: "):
        decode_jpeg(raw)


def _last_line_under_1gib(body: str) -> str:
    """The last stdout line of ``body`` run by a fresh interpreter whose
    own address space is capped at 1 GiB (``RLIMIT_AS``)."""
    import subprocess
    import sys
    import textwrap
    src = ("import resource\n"
           "resource.setrlimit(resource.RLIMIT_AS, (1 << 30, 1 << 30))\n"
           + textwrap.dedent(body))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "-c", src], cwd=root,
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
    return proc.stdout.strip().splitlines()[-1]


def test_avi_rle8_header_dims_over_the_pixel_cap():
    """The 272-byte ``render_avi_rle8`` output with its avih dimensions
    rewritten to 60000x60000 is an ``avi:`` ValueError under a 1 GiB
    address-space limit, raised before the 10.8 GB frame buffers are
    asked for; ``rle8_decode_frame`` refuses the same dimensions."""
    errors = json.loads(_last_line_under_1gib("""
        import json, struct
        from powerpoint_context_extractor_spark.avi import (
            decode_avi, render_avi_rle8, rle8_decode_frame)
        raw = render_avi_rle8(2, 2, [bytes(4)], [(0, 0, 0)])
        at = raw.index(b"avih") + 8 + 32             # dwWidth, dwHeight
        raw = raw[:at] + struct.pack("<II", 60000, 60000) + raw[at + 8:]
        assert len(raw) == 272
        errors = []
        for fn, args in ((decode_avi, (raw,)),
                         (rle8_decode_frame, (60000, 60000, b"\\0\\1"))):
            try:
                fn(*args)
            except ValueError as e:
                errors.append(str(e))
        print(json.dumps(errors))
    """))
    assert [e.split(" exceeds ")[0] for e in errors] == [
        "avi: 60000x60000", "rle8: 60000x60000"], errors


def test_gif_screen_dims_over_the_pixel_cap():
    """The 14-byte GIF whose logical screen declares 65535x65535 is a
    ``gif:`` ValueError from ``decode_gif_frames`` under a 1 GiB
    address-space limit, raised before the 12.9 GB canvas is asked
    for; an image block of those dimensions is refused by
    ``decode_gif`` before its LZW decode."""
    errors = json.loads(_last_line_under_1gib("""
        import json, struct
        from powerpoint_context_extractor_spark.gif import (
            decode_gif, decode_gif_frames)
        raw = b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0, 0, 0) + b";"
        assert len(raw) == 14
        errors = []
        try:
            decode_gif_frames(raw)
        except ValueError as e:
            errors.append(str(e))
        # one 65535x65535 image with a 2-colour local table
        image = (b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0, 0, 0)
                 + b"," + struct.pack("<HHHHB", 0, 0, 65535, 65535, 0x80)
                 + bytes(6) + b"\\x02\\x02\\x4c\\x01\\x00;")
        try:
            decode_gif(image)
        except ValueError as e:
            errors.append(str(e))
        print(json.dumps(errors))
    """))
    assert [e.split(" exceeds ")[0] for e in errors] == [
        "gif: 65535x65535"] * 2, errors


def test_gif_animation_frames_over_the_pixel_cap():
    """The 729-byte ``render_gif_animation`` output of 30 1x1 frames on
    a 4096x4096 screen keeps 30 whole 48 MiB canvases, so
    ``decode_gif_frames`` refuses it as a ``gif:`` ValueError under a
    1 GiB address-space limit, before the second canvas is kept."""
    errors = json.loads(_last_line_under_1gib("""
        import json
        from powerpoint_context_extractor_spark.gif import (
            decode_gif_frames, render_gif_animation)
        raw = render_gif_animation(
            4096, 4096, [bytes(1)] * 30, [(0, 0, 0), (255, 255, 255)],
            [0] * 30, [0] * 30, rects=[(0, 0, 1, 1)] * 30)
        assert len(raw) == 729
        errors = []
        try:
            decode_gif_frames(raw)
        except ValueError as e:
            errors.append(str(e))
        print(json.dumps(errors))
    """))
    assert [e.split(" exceeds ")[0] for e in errors] == [
        "gif: 4096x4096 beside 16777216 kept pixels"], errors


def test_avi_frames_over_the_pixel_cap():
    """The 1,316-byte 30-frame ``render_avi_rle8`` output with its avih
    dimensions rewritten to 4096x4096 (each frame at the one-frame cap)
    is an ``avi:`` ValueError under a 1 GiB address-space limit, raised
    before any of the 30 48 MiB frames is decoded."""
    errors = json.loads(_last_line_under_1gib("""
        import json, struct
        from powerpoint_context_extractor_spark.avi import (
            decode_avi, render_avi_rle8)
        raw = render_avi_rle8(2, 2, [bytes(4)] * 30, [(0, 0, 0)])
        at = raw.index(b"avih") + 8 + 32             # dwWidth, dwHeight
        raw = raw[:at] + struct.pack("<II", 4096, 4096) + raw[at + 8:]
        assert len(raw) == 1316
        errors = []
        try:
            decode_avi(raw)
        except ValueError as e:
            errors.append(str(e))
        print(json.dumps(errors))
    """))
    assert [e.split(" exceeds ")[0] for e in errors] == [
        "avi: 4096x4096 beside 486539264 kept pixels"], errors


def test_tiff_tile_dims_over_the_pixel_cap():
    """The 402-byte ``render_tiff(4, 4, bytes(16), tile=(16, 16))``
    output with ImageWidth, ImageLength, TileWidth and TileLength
    rewritten to 60000 is a ``tiff:`` ValueError under a 1 GiB
    address-space limit, raised before the 3.6 GB page buffer is asked
    for; a 4x4 image with 60000x60000 tiles is refused before the
    tile's LZW decode is sized from them."""
    errors = json.loads(_last_line_under_1gib("""
        import json, struct
        from powerpoint_context_extractor_spark.tiff import (
            decode_tiff, render_tiff)

        def rewrite(raw, tags):
            (ifd,) = struct.unpack("<I", raw[4:8])
            (n,) = struct.unpack("<H", raw[ifd:ifd + 2])
            out = bytearray(raw)
            for k in range(n):
                o = ifd + 2 + 12 * k
                tag, typ = struct.unpack("<HH", raw[o:o + 4])
                if tag in tags:
                    fmt = "<H" if typ == 3 else "<I"
                    out[o + 8:o + 8 + struct.calcsize(fmt)] = struct.pack(
                        fmt, 60000)
            return bytes(out)

        raw = render_tiff(4, 4, bytes(16), tile=(16, 16))
        assert len(raw) == 402
        errors = []
        for tags in ((256, 257, 322, 323), (322, 323)):
            try:
                decode_tiff(rewrite(raw, tags))
            except ValueError as e:
                errors.append(str(e))
        print(json.dumps(errors))
    """))
    assert [e.split(" exceeds ")[0] for e in errors] == [
        "tiff: 60000x60000"] * 2, errors


def test_tiff_pages_over_the_pixel_cap():
    """A 16 MiB TIFF whose 80 IFDs all point at one 4096x4096 gray
    strip would keep 80 whole 16 MiB pages; ``decode_tiff_pages``
    refuses it as a ``tiff:`` ValueError under a 1 GiB address-space
    limit, before the second page is decoded."""
    errors = json.loads(_last_line_under_1gib("""
        import json, struct
        from powerpoint_context_extractor_spark.tiff import (
            decode_tiff_pages)
        n, side = 80, 4096
        strip = 8 + 66 * n
        raw = bytearray(b"II*\\0" + struct.pack("<I", 8))
        for k in range(n):
            raw += struct.pack("<H", 5)
            for tag, value in ((256, side), (257, side), (273, strip),
                               (278, side), (279, side * side)):
                raw += struct.pack("<HHII", tag, 4, 1, value)
            raw += struct.pack("<I", 8 + 66 * (k + 1) if k < n - 1 else 0)
        raw += bytes(side * side)
        errors = []
        try:
            decode_tiff_pages(bytes(raw))
        except ValueError as e:
            errors.append(str(e))
        print(json.dumps(errors))
    """))
    assert [e.split(" exceeds ")[0] for e in errors] == [
        "tiff: 4096x4096 beside 16777216 kept pixels"], errors


def test_jpeg_baseline_frame_dims_over_the_pixel_cap():
    """``render_jpeg_gray`` and ``render_jpeg_color`` outputs whose
    SOF0 declares 65520x65520 are ``jpeg:`` ValueErrors under a 1 GiB
    address-space limit, raised before the 4.3 GB gray plane and the
    color planes are asked for."""
    errors = json.loads(_last_line_under_1gib("""
        import json, struct
        from powerpoint_context_extractor_spark.jpeg import (
            decode_jpeg, render_jpeg_color, render_jpeg_gray)
        errors = []
        for raw in (render_jpeg_gray(8, 8, bytes(64)),
                    render_jpeg_color(16, 16, bytes(16 * 16 * 3))):
            at = raw.index(b"\\xff\\xc0") + 5   # Y, X
            raw = raw[:at] + struct.pack(">HH", 65520, 65520) + raw[at + 4:]
            try:
                decode_jpeg(raw)
            except ValueError as e:
                errors.append(str(e))
        print(json.dumps(errors))
    """))
    assert [e.split(" exceeds ")[0] for e in errors] == [
        "jpeg: 65520x65520"] * 2, errors


def test_jpeg_progressive_frame_dims_over_the_pixel_cap():
    """Progressive gray and color outputs whose SOF2 declares
    65520x65520 are ``jpeg:`` ValueErrors under a 1 GiB address-space
    limit, raised before 67M coefficient blocks are asked for."""
    errors = json.loads(_last_line_under_1gib("""
        import json, struct
        from powerpoint_context_extractor_spark.jpeg import (
            decode_jpeg, render_jpeg_color_progressive,
            render_jpeg_gray_progressive)
        errors = []
        for raw in (render_jpeg_gray_progressive(8, 8, bytes(64)),
                    render_jpeg_color_progressive(
                        16, 16, bytes(16 * 16 * 3))):
            at = raw.index(b"\\xff\\xc2") + 5   # Y, X
            raw = raw[:at] + struct.pack(">HH", 65520, 65520) + raw[at + 4:]
            try:
                decode_jpeg(raw)
            except ValueError as e:
                errors.append(str(e))
        print(json.dumps(errors))
    """))
    assert [e.split(" exceeds ")[0] for e in errors] == [
        "jpeg: 65520x65520"] * 2, errors


# png(ihdr, idat): a PNG of one IHDR (width, height, depth, color,
# interlace), one IDAT and IEND, with valid CRCs
_PNG_SRC = """
        import json, struct, zlib
        from powerpoint_context_extractor_spark.png import decode_png

        def chunk(typ, body):
            return (struct.pack(">I", len(body)) + typ + body
                    + struct.pack(">I", zlib.crc32(typ + body)))

        def png(ihdr, idat):
            w, h, depth, color, inter = ihdr
            head = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, inter)
            return (b"\\x89PNG\\r\\n\\x1a\\n" + chunk(b"IHDR", head)
                    + chunk(b"IDAT", idat) + chunk(b"IEND", b""))
"""


def test_png_ihdr_dims_over_the_pixel_cap():
    """An interlaced gray PNG whose IHDR declares 65535x65535 beside a
    one-byte zlib stream is a ``png:`` ValueError under a 1 GiB
    address-space limit, raised before the 4.3 GB pixel buffer is
    asked for."""
    errors = json.loads(_last_line_under_1gib(_PNG_SRC + """
        raw = png((65535, 65535, 8, 0, 1), zlib.compress(b"\\0"))
        assert len(raw) == 66
        errors = []
        try:
            decode_png(raw)
        except ValueError as e:
            errors.append(str(e))
        print(json.dumps(errors))
    """))
    assert [e.split(" exceeds ")[0] for e in errors] == [
        "png: 65535x65535"], errors


def test_png_idat_inflates_no_more_than_the_ihdr_declares():
    """A 1x1 gray PNG whose IDAT is a valid 1.3 MB zlib stream of
    1.25 GiB of zeros is a ``png:`` ValueError under a 1 GiB
    address-space limit: the inflate stops one byte past the 2 bytes
    the IHDR declares, where an unbounded one asks for all of it."""
    errors = json.loads(_last_line_under_1gib(_PNG_SRC + """
        zeros = bytes(16 << 20)
        c = zlib.compressobj(9)
        head = c.compress(zeros) + c.flush(zlib.Z_FULL_FLUSH)
        block = c.compress(zeros) + c.flush(zlib.Z_FULL_FLUSH)
        assert head[2:] == block     # each full-flushed block restarts
        n = 80
        adler = (n * len(zeros)) % 65521 << 16 | 1
        idat = (head + block * (n - 1) + c.flush()[:-4]
                + struct.pack(">I", adler))
        errors = []
        try:
            decode_png(png((1, 1, 8, 0, 0), idat))
        except ValueError as e:
            errors.append(str(e))
        print(json.dumps(errors))
    """))
    assert errors == ["png: bad scanline data length"], errors


def test_hll_registers_estimate_and_merge(spark):
    """r6: the HLL register sketch estimates distinct counts within
    the standard error envelope at p=8 (~6.5% sigma; assert 3 sigma),
    partition sketches merge by element-wise max to exactly the
    whole-data sketch (the distributed union property), and bad p
    raises."""
    import pytest as _pytest

    from powerpoint_context_extractor_spark.operators import sketches
    docs = spark.range(40000).select(
        F.format_string("key%d", F.col("id") % 5000).alias("k"),
        (F.col("id") % 2).alias("half"))
    whole = {r["register"]: r["max_rho"]
             for r in sketches.hll_registers(docs, "k").collect()}
    est = hll_estimate(whole)
    assert abs(est - 5000) / 5000 < 0.20          # 3 sigma at p=8
    # merge = element-wise max of the two halves' registers
    merged: dict = {}
    for hv in (0, 1):
        part = sketches.hll_registers(
            docs.filter(F.col("half") == hv), "k").collect()
        for r in part:
            merged[r["register"]] = max(
                merged.get(r["register"], 0), r["max_rho"])
    assert merged == whole
    with _pytest.raises(ValueError, match="hll"):
        sketches.hll_registers(docs, "k", p=2)


def test_weighted_reservoir_bias_and_equivalence(spark):
    """r6: the weighted reservoir's two-level top-k equals the
    one-level formulation, and heavy rows win far more often — with
    weights 100 vs 1 at 10% selectivity, nearly every winner is a
    heavy row."""
    from pyspark.sql import Window as W

    from powerpoint_context_extractor_spark.operators import sampling
    from powerpoint_context_extractor_spark.operators.dedup import (
        portable_hash,
    )
    rows = [(i, "s", 100 if i < 100 else 1) for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, stratum string, wt long")
    out = sampling.weighted_reservoir_sample(
        docs, "stratum", "wt", k=50).collect()
    h = portable_hash(F.format_string("wres%d", F.col("doc_id")))
    w = W.partitionBy("stratum").orderBy("_pri", "doc_id")
    want = (docs.withColumn("_h", h)
            .withColumn("_pri", F.expr("_h div wt"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 50)
            .select("doc_id", "stratum", F.col("wt").alias("w"),
                    F.col("rk").cast("long"))
            .collect())
    assert sorted(map(tuple, out)) == sorted(map(tuple, want))
    heavy = sum(1 for r in out if r["w"] == 100)
    assert heavy >= 40          # 100 heavy rows dominate the 50 slots
    with pytest.raises(ValueError, match="weighted_reservoir"):
        sampling.weighted_reservoir_sample(docs, "stratum", "wt", k=0)


def test_weighted_reservoir_excludes_nonpositive_weights(spark):
    """r7 (r6 ADVICE): w=0 rows (whose `_h div 0` priority is NULL and
    would sort first) and negative-w rows are EXCLUDED, and the
    positive-weight winners are identical to running on the clean
    subset alone."""
    from powerpoint_context_extractor_spark.operators import sampling
    rows = ([(i, "s", 1 + i % 5) for i in range(200)]
            + [(1000 + i, "s", 0) for i in range(10)]      # zero w
            + [(2000 + i, "s", -3) for i in range(10)])    # negative w
    docs = spark.createDataFrame(
        rows, "doc_id long, stratum string, wt long")
    out = sampling.weighted_reservoir_sample(
        docs, "stratum", "wt", k=25).collect()
    assert all(r["w"] > 0 and r["doc_id"] < 1000 for r in out)
    clean = docs.filter("wt > 0")
    want = sampling.weighted_reservoir_sample(
        clean, "stratum", "wt", k=25).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, want))


def test_jpeg_restart_intervals_decode_identical():
    """r6: DRI/RSTm streams (any interval, gray and color) decode to
    the SAME pixels as their non-restart twins — byte alignment,
    marker-sequence check, and DC predictor reset all exercised — and
    a wrong/missing restart marker raises honestly."""
    import random

    import pytest as _pytest

    from powerpoint_context_extractor_spark.jpeg import (
        decode_jpeg, render_jpeg_color, render_jpeg_gray,
    )
    random.seed(37)
    for ri in (1, 2, 3, 7):
        px = bytes(random.randrange(256) for _ in range(32 * 16))
        assert decode_jpeg(render_jpeg_gray(32, 16, px, ri)) \
            == decode_jpeg(render_jpeg_gray(32, 16, px))
        rgb = bytes(random.randrange(256) for _ in range(32 * 16 * 3))
        assert decode_jpeg(render_jpeg_color(32, 16, rgb, ri)) \
            == decode_jpeg(render_jpeg_color(32, 16, rgb))
    # corrupting the first RST marker id (D0 -> D5) breaks the
    # expected modulo-8 sequence -> honest error
    raw = bytearray(render_jpeg_gray(
        32, 16, bytes(random.randrange(256) for _ in range(32 * 16)), 1))
    i = raw.find(b"\xff\xd0")
    assert i > 0
    raw[i + 1] = 0xD5
    with _pytest.raises(ValueError, match="restart"):
        decode_jpeg(bytes(raw))
    # ri=0 keeps the historical byte-identical output
    px = bytes(range(64)) * 2
    assert render_jpeg_gray(16, 8, px) == render_jpeg_gray(16, 8, px, 0)


def test_prefix_jaccard_join_equals_brute_force(spark):
    """r6: the prefix-filtered exact Jaccard self-join returns EXACTLY
    the brute-force all-pairs answer (the prefix-filter theorem's
    completeness claim) on a corpus with planted near-dups, disjoint
    docs, and identical twins; threshold gate is integer-exact."""
    from itertools import combinations

    from powerpoint_context_extractor_spark.operators import dedup
    texts = {
        1: "a b c d e f g h",
        2: "a b c d e f g zz",          # near-dup of 1
        3: "a b c d e f g h",           # identical to 1
        4: "p q r s t u v w",           # disjoint
        5: "p q r s t u x y",           # partial overlap with 4
        6: "m n",                       # tiny doc
    }
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id long, text string")
    out = {(r["doc_a"], r["doc_b"]): r["jac_bp"]
           for r in dedup.prefix_jaccard_join(
               docs, threshold_bp=7000).collect()}
    want = {}
    for a, b in combinations(sorted(texts), 2):
        ta, tb = set(texts[a].split()), set(texts[b].split())
        i, u = len(ta & tb), len(ta | tb)
        if i * 10000 >= 7000 * u:
            want[(a, b)] = i * 10000 // u
    assert out == want
    assert (1, 3) in out and out[(1, 3)] == 10000    # identical pair
    assert (1, 2) in out and (4, 5) not in out       # 6/10 < 0.7
    import pytest as _pytest
    with _pytest.raises(ValueError, match="prefix_jaccard"):
        dedup.prefix_jaccard_join(docs, threshold_bp=0)


def test_prefix_jaccard_degenerate_bucket_guard(spark):
    """r7 (r6 VERDICT #5): 200 docs sharing ONE genuinely rare token
    (the duplicated-boilerplate shape) build a k^2/2 candidate bucket
    — error mode trips raise_error naming the token; star mode bounds
    that bucket to O(k) representative pairs while the NON-degenerate
    corpus's output stays exactly the uncapped answer."""
    from powerpoint_context_extractor_spark.operators import dedup

    # each doc: the shared token 'boiler' + ONE unique token; at
    # t=0.3 the prefix is both tokens, so 'boiler' (df=200) builds
    # one 200-doc bucket -> 19900 candidate pairs uncapped
    rows = [(i, f"boiler u{i}") for i in range(200)]
    degen = spark.createDataFrame(rows, "doc_id long, text string")
    # the raise_error surfaces as SparkRuntimeException or a raw
    # Py4JJavaError depending on which stage trips first — match the
    # message, not the wrapper
    with pytest.raises(Exception, match="degenerate prefix bucket"):
        dedup.prefix_jaccard_join(
            degen, threshold_bp=3000, bucket_cap=50).collect()
    # star mode: the over-cap bucket emits ONLY (rep=0, other) pairs
    # — O(k) not O(k^2) — and verification still runs on them
    # (J = 1/3 = 3333bp >= 3000): exactly the 199 rep pairs survive
    starred = {(r["doc_a"], r["doc_b"]): r["jac_bp"]
               for r in dedup.prefix_jaccard_join(
                   degen, threshold_bp=3000, bucket_cap=50,
                   on_degenerate="star").collect()}
    assert starred == {(0, i): 3333 for i in range(1, 200)}
    # non-degenerate corpus: both modes equal the uncapped answer
    texts = {1: "a b c d e f g h", 2: "a b c d e f g zz",
             3: "a b c d e f g h", 4: "p q r s t u v w"}
    clean = spark.createDataFrame(list(texts.items()),
                                  "doc_id long, text string")
    base = sorted(map(tuple, dedup.prefix_jaccard_join(
        clean, threshold_bp=7000).collect()))
    for mode in ("error", "star"):
        got = sorted(map(tuple, dedup.prefix_jaccard_join(
            clean, threshold_bp=7000, bucket_cap=50,
            on_degenerate=mode).collect()))
        assert got == base, mode
    with pytest.raises(ValueError, match="on_degenerate"):
        dedup.prefix_jaccard_join(clean, on_degenerate="drop")
    with pytest.raises(ValueError, match="bucket_cap"):
        dedup.prefix_jaccard_join(clean, bucket_cap=1)


def test_png_adam7_interlace_decode_identical():
    """r6: Adam7-interlaced PNGs (all channel counts, palette, odd
    dims with empty passes, every filter type) decode to the SAME
    pixels as their sequential twins; truncated interlaced data
    raises honestly."""
    import random

    import pytest as _pytest

    from powerpoint_context_extractor_spark.operators.multimodal import (
        PNG_PALETTE,
    )
    from powerpoint_context_extractor_spark.png import (
        decode_png, render_png, render_png_interlaced,
    )
    random.seed(43)
    for w, h in ((16, 8), (7, 5), (1, 1), (33, 17)):
        for ch in (1, 3, 4):
            px = bytes(random.randrange(256) for _ in range(w * h * ch))
            assert decode_png(render_png_interlaced(
                w, h, px, channels=ch, row_filters=[0, 1, 2, 3, 4])) \
                == decode_png(render_png(
                    w, h, px, channels=ch, row_filters=[0, 1, 2, 3, 4]))
    # palette (color type 3) interlaced expands through PLTE the same
    idx = bytes(random.randrange(16) for _ in range(16 * 8))
    assert decode_png(render_png_interlaced(
        16, 8, idx, palette=PNG_PALETTE)) \
        == decode_png(render_png(16, 8, idx, palette=PNG_PALETTE))
    # truncated pass data -> honest error (rebuild IDAT one byte short)
    import struct
    import zlib as _z
    raw = render_png_interlaced(16, 8, bytes(16 * 8))
    sig = raw[:8]
    i, chunks = 8, []
    while i < len(raw):
        (ln,) = struct.unpack(">I", raw[i:i + 4])
        chunks.append((raw[i + 4:i + 8], raw[i + 8:i + 8 + ln]))
        i += 12 + ln
    out = sig
    for typ, body in chunks:
        if typ == b"IDAT":
            body = _z.compress(_z.decompress(body)[:-1])
        out += struct.pack(">I", len(body)) + typ + body \
            + struct.pack(">I", _z.crc32(typ + body) & 0xFFFFFFFF)
    with _pytest.raises(ValueError, match="scanline"):
        decode_png(out)


def test_cdc_chunks_insertion_robustness(spark):
    """r6: content-defined chunk boundaries survive an insertion —
    editing one region changes only the chunks that touch it, while
    fixed-window fingerprints would all shift. Also pins determinism
    and the divisor guard."""
    import pytest as _pytest

    from powerpoint_context_extractor_spark.operators import dedup
    base = " ".join(f"w{i % 97}x{(i * 7) % 89}" for i in range(400))
    toks = base.split()
    edited = " ".join(toks[:200] + ["INSERTED", "TOKENS"] + toks[200:])
    docs = spark.createDataFrame([(1, base), (2, edited)],
                                 "doc_id long, text string")
    out = dedup.cdc_chunks(docs, divisor=8).collect()
    a = {r["chunk_md5"] for r in out if r["doc_id"] == 1}
    b = {r["chunk_md5"] for r in out if r["doc_id"] == 2}
    assert len(a) > 10                      # enough chunks to matter
    shared = len(a & b)
    # all chunks before/after the edit region survive: only the
    # chunk(s) containing the insertion differ
    assert shared >= len(a) - 3
    assert a != b                           # the edited chunk DID change
    # chunk token counts reassemble to the full doc
    n1 = sum(r["n_toks"] for r in out if r["doc_id"] == 1)
    assert n1 == 400
    again = dedup.cdc_chunks(docs, divisor=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    with _pytest.raises(ValueError, match="cdc"):
        dedup.cdc_chunks(docs, divisor=1)


def test_contamination_check_flags_leaked_docs(spark):
    """r6: docs sharing an 8-token window with the benchmark flag
    contaminated (prefix/suffix edits don't hide the leak); clean
    docs don't; tiny docs fall back to whole-text windows."""
    from powerpoint_context_extractor_spark.operators import dedup
    bench_text = " ".join(f"b{i}" for i in range(20))
    corpus = spark.createDataFrame([
        (1, "leading junk " + bench_text),            # leaked + prefix
        (2, " ".join(f"c{i}" for i in range(20))),    # clean
        (3, bench_text + " trailing junk"),           # leaked + suffix
        (4, "short doc"),                             # < 8 tokens
    ], "doc_id long, text string")
    bench = spark.createDataFrame([(100, bench_text)],
                                  "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.contamination_check(corpus, bench).collect()}
    assert out[1]["contaminated"] == 1 and out[1]["hit_windows"] >= 13
    assert out[3]["contaminated"] == 1
    assert out[2]["contaminated"] == 0 == out[2]["hit_windows"]
    assert out[4]["contaminated"] == 0 and out[4]["n_windows"] == 1


def test_hash_classifier_zero_shuffle_and_values(spark):
    """r6: the hashed-linear inference matches a pure-Python
    re-computation of the frozen weight rule, and the physical plan
    has NO Exchange — classification at 100 TB is scan speed."""
    import hashlib

    from powerpoint_context_extractor_spark.operators import textstats
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta"), (3, "alpha alpha")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textstats.hash_classifier_score(docs).collect()}

    def w(tok):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
        return ((h % 1_000_000_007) % 4096) * 2654435761 % 1997 - 998

    for doc_id, text in ((1, "alpha beta gamma"), (2, "delta"),
                         (3, "alpha alpha")):
        want = sum(w(t) for t in text.split())
        assert out[doc_id]["score"] == want
        assert out[doc_id]["label"] == (1 if want > 0 else 0)
        assert out[doc_id]["n_toks"] == len(text.split())
    plan = textstats.hash_classifier_score(docs) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_sequences_and_running_offset(spark):
    """r7: GPT-style sequence packing — the distributed two-level
    prefix sum equals the plain python cumsum (incl. an empty doc and
    docs straddling pack boundaries), pack ids/offsets satisfy the
    layout invariants, and the only Window in the plan runs over the
    tiny per-partition totals table, never the corpus."""
    from powerpoint_context_extractor_spark.operators import sampling
    texts = {1: "a b c d e f g",          # 7 tokens
             2: ("x " * 11).strip(),       # 11
             3: "",                        # empty text -> 1 token ([''],
             #                               the split-on-space contract
             #                               DuckDB string_split mirrors)
             4: ("y " * 25).strip(),       # 25: straddles boundaries
             5: "z"}                       # 1
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string")
    out = {r["doc_id"]: r for r in sampling.pack_sequences(
        docs, seq_len=10, n_parts=3).collect()}
    off = 0
    for k in sorted(texts):
        n = len(texts[k].split(" "))
        r = out[k]
        assert r["n_tokens"] == n, (k, r)
        assert r["tok_offset"] == off
        assert r["pack_first"] == off // 10
        assert r["pack_last"] == (off + max(n, 1) - 1) // 10
        assert r["offset_in_pack"] == off % 10
        off += n
    # doc 4 (25 tokens at offset 19) spans packs 1..4
    assert (out[4]["pack_first"], out[4]["pack_last"]) == (1, 4)
    # the empty-text doc holds one '' token at a well-defined position
    assert out[3]["n_tokens"] == 1
    assert out[3]["tok_offset"] + 1 == out[4]["tok_offset"]
    # offset primitive directly: matches a one-level window oracle
    vals = spark.createDataFrame(
        [(i, (i * 7) % 13 + 1) for i in range(200)],
        "doc_id long, nt long")
    got = {r["doc_id"]: (r["value"], r["offset"])
           for r in sampling.global_running_offset(
               vals, ["doc_id"], "nt", n_parts=5).collect()}
    acc = 0
    for i in range(200):
        v = (i * 7) % 13 + 1
        assert got[i] == (v, acc), i
        acc += v
    # plan shape: the corpus itself is never windowed — the one
    # Window node operates on the n_parts-row totals table
    plan = sampling.global_running_offset(
        vals, ["doc_id"], "nt", n_parts=5)._jdf \
        .queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Window") <= 1
    with pytest.raises(ValueError, match="order_cols"):
        sampling.global_running_offset(vals, [], "nt")
    with pytest.raises(ValueError, match="seq_len"):
        sampling.pack_sequences(docs, seq_len=0)


def test_bm25_topk_ranking_and_two_level(spark):
    """r7: integer BM25 — exact-match docs outrank partial matches,
    higher tf wins at equal length, LONGER docs with the same tf are
    length-penalized below shorter ones, the two-level top-k equals
    the one-level window, and rare query terms outweigh common ones
    via the integer idf."""
    from pyspark.sql import Window as W

    from powerpoint_context_extractor_spark.operators import textstats
    docs = spark.createDataFrame([
        (1, "apple banana cherry"),            # both terms, short
        (2, "apple banana apple banana"),      # both terms, tf=2
        (3, "apple filler filler filler filler filler"),  # partial+long
        (4, "apple banana " + "pad " * 20),    # both terms, long
        (5, "cherry dates eggs"),              # no match
        (6, "banana banana banana"),           # one term, tf=3
    ], "doc_id long, text string")
    qs = spark.createDataFrame([(100, "apple banana")],
                               "query_id long, q_text string")
    out = textstats.bm25_topk(docs, qs, k=10, buckets=4).collect()
    ranked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert set(ranked) == {1, 2, 3, 4, 6}       # doc 5 never matches
    pos = {d: i for i, d in enumerate(ranked)}
    assert pos[2] < pos[1]          # tf=2 beats tf=1 (similar length)
    assert pos[1] < pos[4]          # same tf, shorter doc wins
    assert pos[1] < pos[3]          # two matched terms beat one
    # two-level == one-level on a bigger corpus
    big = spark.createDataFrame(
        [(i, f"apple t{i % 7:02d} u{i % 11:02d} v{i:03d}")
         for i in range(300)],
        "doc_id long, text string")
    q2 = spark.createDataFrame([(1, "apple t03"), (2, "u05 v299")],
                               "query_id long, q_text string")
    two = sorted(map(tuple, textstats.bm25_topk(
        big, q2, k=7, buckets=8).collect()))
    one = sorted(map(tuple, textstats.bm25_topk(
        big, q2, k=7, buckets=1).collect()))
    assert two == one and len(two) == 14
    with pytest.raises(ValueError, match="bm25"):
        textstats.bm25_topk(docs, qs, k=0)


def test_theta_a_not_b_estimates_difference(spark):
    """r7: the KMV a-not-b estimate lands near the planted |A\\B| =
    2000 (A = 1000 shared + 2000 own keys), and A fully covered by B
    still emits exactly ONE row with n_a_only = 0 and estimate 0."""
    from powerpoint_context_extractor_spark.operators.sketches import (
        theta_a_not_b,
    )
    rows = ([("ga", f"shared{i}") for i in range(1000)]
            + [("gb", f"shared{i}") for i in range(1000)]
            + [("ga", f"a{i}") for i in range(2000)]
            + [("gb", f"b{i}") for i in range(2000)])
    df = spark.createDataFrame(rows, "grp string, k string")
    out = theta_a_not_b(df, "k", "grp", "ga", "gb", k=256).collect()
    assert len(out) == 1
    assert 900 <= out[0]["est_a_not_b"] <= 3400, out[0]
    sub = spark.createDataFrame(
        [("ga", f"x{i}") for i in range(40)]
        + [("gb", f"x{i}") for i in range(200)], "grp string, k string")
    cov = theta_a_not_b(sub, "k", "grp", "ga", "gb", k=64).collect()
    assert len(cov) == 1
    assert cov[0]["n_a_only"] == 0 and cov[0]["est_a_not_b"] == 0


def test_semantic_dedup_keeps_min_id_per_group(spark):
    """r7 SemDeDup: planted scaled copies (same direction, cos = 1)
    collapse onto the original min id through the components pass,
    transitive chains share one representative, and untouched vectors
    keep themselves."""
    from powerpoint_context_extractor_spark.operators.similarity import (
        semantic_dedup,
    )
    import math
    dim = 8
    def vec(seed, scale=1.0):
        return [float(((seed * 31 + j * 7) % 19) - 9) * scale
                for j in range(dim)]
    rows = [(i, vec(i)) for i in range(40)]
    rows += [(100 + i, vec(i, 1.5)) for i in range(5)]   # dups of 0..4
    rows += [(200, vec(3, 0.5))]                         # chain: 3~103~200
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: (r["rep_id"], r["is_kept"])
           for r in semantic_dedup(emb, n_centroids=4).collect()}
    assert len(out) == 46
    # note: vec() is periodic mod 19, so some base seeds are identical
    # to each other — assert the planted relations and the structural
    # invariants rather than exact self-reps for every base vector
    for i in range(5):
        assert out[100 + i][0] == out[i][0], i    # copy joins i's group
        assert out[100 + i][1] == 0, i            # copy never survives
    assert out[200][0] == out[3][0] and out[200][1] == 0  # chain
    for vid, (rep, kept) in out.items():
        assert rep <= vid                      # rep is the group min
        assert kept == (1 if rep == vid else 0)
        assert out[rep] == (rep, 1)            # reps keep themselves
    assert sum(k for _, k in out.values()) >= 19   # >= one per residue


def test_webp_vp8l_roundtrip_all_paths(spark):
    """r7: the VP8L codec contract — random-RGBA roundtrips through
    plain / subtract-green / LZ77 / all 14 predictor modes / color
    transform / every palette bundling width; stacked transforms
    invert in reverse order; edge dims (1x1, single row/col); the
    generic mm path classifies RIFF+WEBP and decodes for real while
    lossy VP8 stays an honest error; truncation rejected."""
    import random

    from powerpoint_context_extractor_spark.operators.multimodal import (
        _kind_of, extract_features,
    )
    from powerpoint_context_extractor_spark.webp import (
        decode_webp, render_webp,
    )
    rng = random.Random(7)
    w, h = 13, 9
    base, v = [], [128, 128, 128]
    for i in range(w * h):
        for c in range(3):
            v[c] = max(0, min(255, v[c] + rng.randrange(-9, 10)))
        base += [v[0], v[1], v[2], 255 if i % 5 else 200]
    rgba = bytes(base)
    for mode in range(14):
        assert decode_webp(render_webp(w, h, rgba,
                                       predictor_mode=mode)) \
            == (w, h, 4, rgba), mode
    for kw in ({}, {"subtract_green": True}, {"use_lz77": True},
               {"color_mul": (33, 236, 7)},
               {"subtract_green": True, "color_mul": (33, 236, 7),
                "predictor_mode": 11, "use_lz77": True}):
        assert decode_webp(render_webp(w, h, rgba, **kw)) \
            == (w, h, 4, rgba), kw
    for ncol in (2, 4, 16, 17, 200):
        pal = [(rng.randrange(256), rng.randrange(256),
                rng.randrange(256), 255) for _ in range(ncol)]
        px = []
        for i in range(w * h):
            px += list(pal[(i * 7 + i // w) % ncol])
        pr = bytes(px)
        assert decode_webp(render_webp(w, h, pr, use_palette=True)) \
            == (w, h, 4, pr), ncol
    for (ww, hh) in ((1, 1), (1, 6), (6, 1)):
        r2 = bytes(rng.randrange(256) for _ in range(ww * hh * 4))
        assert decode_webp(render_webp(ww, hh, r2,
                                       predictor_mode=11)) \
            == (ww, hh, 4, r2)
    # color cache: repetitive pixels roundtrip at several cache sizes
    # and the cache-bearing stream is smaller than the plain one
    pal6 = [(i * 37 % 256, i * 59 % 256, i * 83 % 256, 255)
            for i in range(6)]
    rep = b"".join(bytes(pal6[(i * 5 + 1) % 6]) for i in range(96))
    for cb in (1, 4, 11):
        assert decode_webp(render_webp(12, 8, rep, cache_bits=cb)) \
            == (12, 8, 4, rep), cb
    assert len(render_webp(12, 8, rep, cache_bits=4)) \
        < len(render_webp(12, 8, rep))
    with pytest.raises(ValueError, match="cache excludes"):
        render_webp(12, 8, rep, cache_bits=4, use_lz77=True)
    # meta prefix codes (r7): spatial entropy switching roundtrips at
    # several group counts and composes with transforms; the twin
    # keeps it orthogonal to lz77/cache
    for g in (2, 3, 5):
        assert decode_webp(render_webp(w, h, rgba, meta_groups=g)) \
            == (w, h, 4, rgba), g
    assert decode_webp(render_webp(
        w, h, rgba, subtract_green=True, predictor_mode=7,
        meta_groups=2)) == (w, h, 4, rgba)
    with pytest.raises(ValueError, match="meta_groups"):
        render_webp(w, h, rgba, meta_groups=2, use_lz77=True)
    good = render_webp(4, 4, bytes(range(64)))
    assert _kind_of(good) == "webp"
    lossy = bytearray(good)
    lossy[12:16] = b"VP8 "
    rows = extract_features(spark.createDataFrame(
        [(1, bytearray(good)), (2, bytes(lossy))],
        "doc_id long, payload binary")).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[1]["kind"] == "webp" and by_id[1]["error"] is None
    assert by_id[1]["features"][0] == 4.0     # width
    assert by_id[2]["error"] is not None      # lossy: honest error
    with pytest.raises(ValueError):
        decode_webp(good[:30])
    with pytest.raises(ValueError, match="palette excludes"):
        render_webp(2, 2, bytes(16), use_palette=True,
                    subtract_green=True)


def test_tiff_jpeg_compression_roundtrip():
    """r7: Compression=7 (new-style JPEG-in-TIFF) — MCU-constant
    strips roundtrip exactly through the DCT, arbitrary content
    equals per-strip decode_jpeg stitching, both byte orders work,
    and the subset guards (gray-only, 8-aligned, strips-only) hold."""
    import random

    from powerpoint_context_extractor_spark.jpeg import (
        decode_jpeg, render_jpeg_gray,
    )
    from powerpoint_context_extractor_spark.tiff import (
        decode_tiff, render_tiff,
    )
    w, h = 16, 16
    px = bytes(((x // 8) * 64 + (y // 8) * 32 + 40) % 256
               for y in range(h) for x in range(w))
    for be in (False, True):
        t = render_tiff(w, h, px, channels=1, big_endian=be,
                        rows_per_strip=8, compression=7)
        assert decode_tiff(t) == (w, h, 1, px), be
    rng = random.Random(2)
    px2 = bytes(rng.randrange(256) for _ in range(w * h))
    t = render_tiff(w, h, px2, channels=1, rows_per_strip=8,
                    compression=7)
    exp = b"".join(
        decode_jpeg(render_jpeg_gray(w, 8, px2[i * w * 8:
                                               (i + 1) * w * 8]))[3]
        for i in range(2))
    assert decode_tiff(t) == (w, h, 1, exp)
    with pytest.raises(ValueError, match="8-aligned"):
        render_tiff(12, 8, bytes(96), compression=7)
    with pytest.raises(ValueError, match="grayscale"):
        render_tiff(16, 16, bytes(16 * 16 * 3), channels=3,
                    compression=7)
    with pytest.raises(ValueError, match="strips"):
        render_tiff(16, 16, px, compression=7, tile=(8, 8))


def test_resample_linear_integer_exactness():
    """r7: integer linear resampling — 2x upsampling interleaves
    exact midpoints, decimation picks every source sample it lands
    on, identity rate is a no-op, upsample-then-decimate returns the
    original, and negative samples floor identically to the SQL
    mirror (the shifted-numerator rule)."""
    from powerpoint_context_extractor_spark.wav import resample_linear
    x = [0, 100, -200, 300]
    assert resample_linear(x, 8000, 16000) == [0, 50, 100, -50, -200,
                                               50, 300]
    assert resample_linear(x, 8000, 4000) == [0, -200]
    assert resample_linear(x, 8000, 8000) == x
    assert resample_linear([], 8000, 16000) == []
    assert resample_linear([-5, 4, -3], 3, 2) == [-5, 0]
    up = resample_linear(x, 1, 2)
    assert up[::2] == x
    # floor (not truncate) on negative interpolations: midpoint of
    # -5 and -4 must be -5, never -4 (what truncation would give)
    assert resample_linear([-5, -4], 1, 2)[1] == -5
    with pytest.raises(ValueError, match="rates"):
        resample_linear(x, 0, 100)


def test_pii_scrub_patterns_and_order(spark):
    """r7: emails scrub before phones (an email's digits never
    half-match the phone pattern), every tag lands, counts are
    per-occurrence, pii-free text passes through with has_pii=0 and
    an unchanged md5."""
    import hashlib

    from powerpoint_context_extractor_spark.operators.textstats import (
        pii_scrub,
    )
    docs = spark.createDataFrame([
        (1, "mail a.b+c@ex-ample.org and b@x.io twice"),
        (2, "call +44 201 1234567 or +1 555-0199 now"),
        (3, "host 192.168.0.1 and 10.0.255.254 up"),
        (4, "clean text with no identifiers at all"),
        (5, "mix u@v.com then +1 555-1234 then 8.8.8.8"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_ip"]) \
        == (2, 0, 0)
    assert (got[2]["n_email"], got[2]["n_phone"]) == (0, 2)
    assert got[3]["n_ip"] == 2
    assert got[4]["has_pii"] == 0
    assert got[4]["clean_md5"] == hashlib.md5(
        b"clean text with no identifiers at all").hexdigest()
    assert (got[5]["n_email"], got[5]["n_phone"], got[5]["n_ip"]) \
        == (1, 1, 1)
    assert got[5]["clean_md5"] == hashlib.md5(
        b"mix <EMAIL> then <PHONE> then <IP>").hexdigest()


def test_ogg_vorbis_probe_contract():
    """r7: the Ogg probe walks pages with real CRC verification
    (the Ogg polynomial, not zlib's), parses the Vorbis
    identification header, tracks the max granule, and raises
    honestly on corrupt CRCs, multiplexed serials, non-Vorbis first
    packets, and truncation."""
    from powerpoint_context_extractor_spark.oggprobe import (
        build_ogg_vorbis, ogg_crc, probe_ogg_vorbis,
    )
    d = build_ogg_vorbis(2, 44100, 128000, [4410, 8820, 13230])
    assert probe_ogg_vorbis(d) == (4, 2, 44100, 128000, 13230)
    # known CRC property: table-driven == bit-driven on a sample
    assert ogg_crc(b"") == 0
    mono = build_ogg_vorbis(1, 8000, 16000, [1000])
    assert probe_ogg_vorbis(mono) == (2, 1, 8000, 16000, 1000)
    bad = bytearray(d)
    bad[40] ^= 1
    with pytest.raises(ValueError):
        probe_ogg_vorbis(bytes(bad))
    with pytest.raises(ValueError, match="capture"):
        probe_ogg_vorbis(b"NotOgg" + d)
    with pytest.raises(ValueError, match="truncated"):
        probe_ogg_vorbis(d[:-5])
    # a second serial number = multiplexed stream: honest error
    other = build_ogg_vorbis(1, 8000, 16000, [500], serial=888)
    with pytest.raises(ValueError, match="multiplexed"):
        probe_ogg_vorbis(d + other)
    # a page truncated INSIDE the 27-byte fixed header, even inside
    # the capture pattern, is the same honest ValueError, not an
    # IndexError from reading header fields before the length check
    for cut in (b"O", b"Og", b"OggS", b"OggS\x00" + b"\x00" * 10):
        with pytest.raises(ValueError, match="truncated page header"):
            probe_ogg_vorbis(mono + cut)


def test_webp_vp8l_predictor_before_palette_width():
    """ADVICE r7 (medium): a spec-legal VP8L stream may list PREDICTOR
    before COLOR_INDEXING; the predictor sub-image is then read at the
    FULL width and its inverse must run at that width too (the
    unbundle has already restored it), not at the bundled width.
    Hand-built 8x1 stream: palette holds residuals, the decoder's
    reverse-order inverses must yield the running left-sum over ALL
    eight pixels (the bundled-width bug only transformed the first)."""
    import struct

    from powerpoint_context_extractor_spark.webp import (
        _encode_entropy_image, _pack, _Writer, decode_webp,
    )
    width, height = 8, 1
    pal = [(1, 10, 20, 30), (2, 5, 7, 9)]      # (a, r, g, b) residuals
    idx = [0, 1, 1, 0, 1, 0, 0, 1]
    wr = _Writer()
    wr.bits(0x2F, 8)
    wr.bits(width - 1, 14)
    wr.bits(height - 1, 14)
    wr.bits(0, 1)                              # alpha hint
    wr.bits(0, 3)                              # version
    # PREDICTOR read FIRST, at full width: sw = (8+3)>>2 = 2 tiles
    wr.bits(1, 1)
    wr.bits(0, 2)
    wr.bits(0, 3)                              # size_bits = 2
    _encode_entropy_image(wr, [_pack(255, 0, 0, 0)] * 2,
                          top_level=False)
    # COLOR_INDEXING second: 2 colors -> 1 bit/px, bundled width 1
    wr.bits(1, 1)
    wr.bits(3, 2)
    wr.bits(len(pal) - 1, 8)
    deltas, prev = [], (0, 0, 0, 0)
    for p in pal:
        deltas.append(_pack(*((a - b) & 0xFF for a, b in zip(p, prev))))
        prev = p
    _encode_entropy_image(wr, deltas, top_level=False)
    wr.bits(0, 1)                              # no more transforms
    g = 0
    for j, v in enumerate(idx):                # 8 indices in one byte
        g |= v << j
    _encode_entropy_image(wr, [_pack(255, 0, g, 0)], top_level=True)
    payload = wr.bytes()
    body = b"WEBPVP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        body += b"\x00"
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    # expected: h=1 so the predictor inverse is a running left-sum of
    # the palette residuals, seeded with opaque black at pixel 0
    exp, acc = bytearray(), (255, 0, 0, 0)
    for v in idx:
        acc = tuple((a + b) & 0xFF for a, b in zip(acc, pal[v]))
        exp += bytes((acc[1], acc[2], acc[3], acc[0]))
    assert decode_webp(data) == (width, height, 4, bytes(exp))


def test_webp_lz77_distance_alphabet_cap():
    """ADVICE r7: greedy matches farther than the 40-symbol distance
    alphabet can express ((1<<20) - 120 pixels) must fall back to
    literals instead of emitting an unencodable symbol; matches at
    exactly the cap still encode as symbol 39."""
    from powerpoint_context_extractor_spark.webp import (
        _MAX_COPY_DIST, _prefix_for_value, _tokenize,
    )
    assert _prefix_for_value(_MAX_COPY_DIST + 120)[0] == 39
    assert _prefix_for_value(_MAX_COPY_DIST + 121)[0] == 40
    # [7,8,9,7,8,9]: the greedy matcher's most-recent occurrence of 7
    # is index 3, whose following pixels also match, so the far run
    # matches at distance (middle + 3) exactly
    head = [7, 8, 9, 7, 8, 9]
    tail = [7, 8, 9]

    def toks_for(middle_len):
        mid = list(range(100, 100 + middle_len))
        return _tokenize(head + mid + tail, use_lz77=True)

    over = [t for t in toks_for(_MAX_COPY_DIST - 2)   # d = cap + 1
            if t[0] == "copy" and t[2] + 120 > (1 << 20)]
    assert over == []
    # one pixel closer IS matchable, at exactly symbol 39
    caps = [t for t in toks_for(_MAX_COPY_DIST - 3)   # d = cap
            if t[0] == "copy" and t[2] > 4096]
    assert caps == [("copy", 3, _MAX_COPY_DIST)]
    assert _prefix_for_value(caps[0][2] + 120)[0] == 39


def test_row_map_fan_out_nulls_and_empty_partitions(spark):
    """``row_map``: an input row gives 0, 1 or 3 output rows; a binary
    input column and its null arrive as bytes / None; null and
    array<double> outputs round-trip; a DDL-string schema parses; an
    input partition with no rows and a batch whose rows all give 0
    outputs both yield nothing."""
    from powerpoint_context_extractor_spark.operators.extract import row_map
    rows = [(1, 0, b"x"), (2, 1, None), (3, 3, b"\x00\xffab")]
    # more slices than rows: one row per partition, the rest empty
    rdd = spark.sparkContext.parallelize(rows, numSlices=len(rows) + 2)
    df = spark.createDataFrame(rdd, "doc_id long, n long, payload binary")
    assert df.rdd.glom().map(len).collect().count(0) >= 2

    def fn(doc_id, n, payload):
        assert payload is None or isinstance(payload, bytes)
        for i in range(n):
            yield (doc_id, i, None if payload is None else len(payload),
                   [float(doc_id), i / 2])

    out = row_map(df, fn, "doc_id long, i long, n_bytes long, "
                          "feats array<double>")
    assert out.schema.simpleString() == (
        "struct<doc_id:bigint,i:bigint,n_bytes:bigint,feats:array<double>>")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(2, 0, None, [2.0, 0.0]),
                   (3, 0, 4, [3.0, 0.0]), (3, 1, 4, [3.0, 0.5]),
                   (3, 2, 4, [3.0, 1.0])]


def test_partition_map_counter_spans_batches_and_restarts_per_task(spark):
    """``partition_map``: with 7-row Arrow batches each task's rows cross
    in several batches, yet ``fn`` reads them as one stream in partition
    order, so a running counter continues across batches and restarts
    in each task; the input keeps its partitioning (no spread)."""
    from pyspark import TaskContext

    from powerpoint_context_extractor_spark.operators.extract import (
        partition_map,
    )

    def _count(rows):
        pid = TaskContext.get().partitionId()
        for n, (i,) in enumerate(rows):
            yield i, n, pid

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        out = partition_map(spark.range(0, 100, numPartitions=3), _count,
                            "i long, n long, pid int")
        assert out.rdd.getNumPartitions() == 3
        got = out.collect()
    finally:
        spark.conf.set(key, old)
    assert sorted(r["i"] for r in got) == list(range(100))
    by_pid = {}
    for r in got:
        by_pid.setdefault(r["pid"], []).append((r["i"], r["n"]))
    assert len(by_pid) == 3
    for rows in by_pid.values():
        assert len(rows) > 7                    # several input batches
        first = min(i for i, _n in rows)
        assert sorted(rows) == [(first + n, n) for n in range(len(rows))]


def test_row_map_spreads_single_row_group_parquet(spark, tmp_path):
    """``row_map`` and ``extract_pages`` apply ``_spread_small_input``:
    a one-file, single-row-group parquet input (one scan task) runs
    over ``defaultParallelism`` partitions, also when the file's URI
    percent-encodes its path."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    from powerpoint_context_extractor_spark.operators.extract import (
        extract_pages, row_map,
    )
    target = spark.sparkContext.defaultParallelism
    assert target > 1
    for sub in ("plain", "with space"):
        (tmp_path / sub).mkdir()
        path = str(tmp_path / sub / "one.parquet")
        pq.write_table(pa.table({
            "doc_id": list(range(64)),
            "url": [f"https://h.example/{i}" for i in range(64)],
            "html": [b"<p>x</p>"] * 64}), path)
        assert pq.ParquetFile(path).metadata.num_row_groups == 1
        one = spark.read.parquet(path)
        out = row_map(one.select("doc_id"),
                      lambda d: [(d, TaskContext.get().partitionId())],
                      "doc_id long, pid long")
        assert out.rdd.getNumPartitions() == target, sub
        got = out.collect()
        assert sorted(r["doc_id"] for r in got) == list(range(64))
        assert len({r["pid"] for r in got}) > 1, sub
        extracted = extract_pages(one)
        assert extracted.rdd.getNumPartitions() == target, sub
        pids = {r["partition_id"] for r in extracted.collect()}
        assert len(pids) > 1, sub
