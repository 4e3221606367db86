"""Per-payload-kind kernel cost over a bench corpus: takes a sample of
pages, buckets rows by payload kind (html / wdoc / pdf / legacy-charset),
and times extract_document per bucket — the feedback loop for deciding
WHERE kernel optimization minutes go (a 3% kind at 10x cost eats ~25%
of total wall).

The sample is the first ``--n`` rows of a pages parquet under
``--pages-dir`` (read through duckdb). When that directory does not
exist, it is ``--n`` generated rows of the benchmark's page shape,
``corpus.page_row(i, --seed, min_paras=10, max_paras=60)``.

Usage: python scripts/profile_kinds.py [--n 20000] [--seed 1]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def kind_of(html: bytes) -> str:
    from powerpoint_context_extractor_spark.kernel import PDF_MAGIC, WDOC_MAGIC
    if html.startswith(WDOC_MAGIC):
        return "wdoc"
    if html.startswith(PDF_MAGIC):
        return "pdf"
    if html.startswith(b"\xef\xbb\xbf") or html.startswith(b"\xff\xfe"):
        return "legacy"
    try:
        html.decode("utf-8")
    except UnicodeDecodeError:
        return "legacy"
    return "html"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=20000)
    ap.add_argument("--pages-dir", default=os.path.join(
        REPO, ".bench_cache", "pages_scaling_v5"))
    ap.add_argument("--seed", type=int, default=1,
                    help="corpus seed when --pages-dir does not exist")
    args = ap.parse_args()

    from powerpoint_context_extractor_spark.kernel import extract_document

    if os.path.isdir(args.pages_dir):
        import duckdb
        con = duckdb.connect()
        rows = con.sql(
            f"SELECT url, html FROM "
            f"read_parquet('{args.pages_dir}/*.parquet') "
            f"LIMIT {args.n}").fetchall()
    else:
        from powerpoint_context_extractor_spark.corpus import page_row
        rows = [(r["url"], r["html"]) for r in (
            page_row(i, args.seed, min_paras=10, max_paras=60)
            for i in range(args.n))]
    buckets: dict = {}
    for u, h in rows:
        buckets.setdefault(kind_of(bytes(h)), []).append((u, bytes(h)))
    total_t = 0.0
    print(f"{'kind':10} {'rows':>7} {'share':>6} {'sec':>8} "
          f"{'us/doc':>8} {'%time':>6}")
    stats = []
    for kind, rs in sorted(buckets.items()):
        for u, h in rs[:50]:
            extract_document(u, h)          # warm
        t0 = time.perf_counter()
        for u, h in rs:
            extract_document(u, h)
        dt = time.perf_counter() - t0
        stats.append((kind, len(rs), dt))
        total_t += dt
    for kind, n, dt in stats:
        print(f"{kind:10} {n:7d} {n / len(rows):6.1%} {dt:8.2f} "
              f"{dt / n * 1e6:8.0f} {dt / total_t:6.1%}")
    print(f"{'TOTAL':10} {len(rows):7d} {'':6} {total_t:8.2f} "
          f"{total_t / len(rows) * 1e6:8.0f}")


if __name__ == "__main__":
    main()
