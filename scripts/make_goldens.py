"""Author the committed golden fixtures (tests/fixtures/golden.json and
tests/fixtures/payload_digests.json).

The corpus generator is the oracle author (FIXTURES.md): goldens are
committed files, never recomputed at test time. Regenerate ONLY when the
kernel contract intentionally changes, and commit the diff.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from powerpoint_context_extractor_spark import corpus  # noqa: E402
from powerpoint_context_extractor_spark.kernel import extract_document  # noqa: E402
from powerpoint_context_extractor_spark.operators import multimodal  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tests", "fixtures")
OUT = os.path.join(FIXTURES, "golden.json")
PAYLOAD_OUT = os.path.join(FIXTURES, "payload_digests.json")
# doc_id 0..27 covers every ``% 2``, ``% 3``, ``% 4`` and ``% 14`` kind the
# payload generators switch on.
PAYLOAD_DOC_IDS = range(28)


def payload_digests() -> dict:
    """sha256 of every ``multimodal.*_payload_for_doc`` output, by generator
    name, for each doc_id in ``PAYLOAD_DOC_IDS``."""
    return {name: [hashlib.sha256(getattr(multimodal, name)(d)).hexdigest()
                   for d in PAYLOAD_DOC_IDS]
            for name in sorted(dir(multimodal))
            if name.endswith("_payload_for_doc")}


def main() -> None:
    goldens = []
    for row in corpus.fixture_pages():
        r = extract_document(row["url"], row["html"])
        goldens.append({
            "url": r.url,
            "sha256": r.sha256(),
            "title": r.title,
            "text": r.text,
            "spans": r.spans,
            "n_blocks": r.n_blocks,
            "error": r.error,
        })
    with open(OUT, "w", encoding="utf-8") as f:
        json.dump(goldens, f, indent=1, ensure_ascii=False, sort_keys=True)
    print(f"wrote {len(goldens)} goldens -> {OUT}")
    digests = payload_digests()
    with open(PAYLOAD_OUT, "w", encoding="utf-8") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
    print(f"wrote {len(digests)} payload digest lists -> {PAYLOAD_OUT}")


if __name__ == "__main__":
    main()
