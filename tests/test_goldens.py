"""Byte-exact regression contract: kernel output vs committed goldens
(the north_rule's 'byte-identical extracted text per url' gate)."""

import hashlib
import json
import os

from powerpoint_context_extractor_spark import corpus
from powerpoint_context_extractor_spark.kernel import extract_document

GOLDEN = os.path.join(os.path.dirname(__file__), "fixtures", "golden.json")


def _load():
    with open(GOLDEN, encoding="utf-8") as f:
        return {g["url"]: g for g in json.load(f)}


def test_kernel_matches_committed_goldens_byte_exact():
    goldens = _load()
    rows = corpus.fixture_pages()
    assert {r["url"] for r in rows} == set(goldens)
    for row in rows:
        g = goldens[row["url"]]
        r = extract_document(row["url"], row["html"])
        assert r.error == g["error"], row["url"]
        assert r.text == g["text"], row["url"]
        if r.text is not None:
            got_sha = hashlib.sha256(r.text.encode("utf-8")).hexdigest()
            assert got_sha == g["sha256"], row["url"]
        assert r.title == g["title"]
        assert r.spans == g["spans"]
        assert r.n_blocks == g["n_blocks"]


def test_golden_span_invariant():
    for g in _load().values():
        if g["text"] is None:
            continue
        for s in g["spans"]:
            assert 0 <= s["start"] <= s["end"] <= len(g["text"])


def test_payload_generators_match_committed_digests():
    """Every ``multimodal.*_payload_for_doc`` output for doc_id 0..27 hashes
    to the digest committed in tests/fixtures/payload_digests.json, so a
    change to a shared encoder or container writer that moves one byte of
    any format fails here."""
    from scripts.make_goldens import PAYLOAD_OUT, payload_digests
    with open(PAYLOAD_OUT, encoding="utf-8") as f:
        committed = json.load(f)
    got = payload_digests()
    assert set(got) == set(committed)
    for name, digests in committed.items():
        assert got[name] == digests, name
