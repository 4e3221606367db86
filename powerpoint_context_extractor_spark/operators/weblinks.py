"""Anchor-text extraction + link-target aggregation — the classic
web-graph text signal (anchor corpora drive retrieval/labeling in
every large crawl pipeline; the reference's analog is the per-member
relationship deref it runs across a container,
pptx_extractor/slides/extractor.py:60-118 — here the "relationships"
are hyperlinks across the whole crawl).

Scale design: anchor extraction is a single JVM-codegen
``regexp_extract_all`` over the page scan — zero Python, zero
shuffles, narrow (url, html) projection. The aggregation is
deliberately two-stage: per-(target,anchor) counts are
combiner-friendly (map-side partial agg collapses duplicate anchors
before the shuffle), then the per-target top-anchor pick is a tiny
``min(struct(-cnt, anchor))`` over the already-aggregated table — no
global window, no skew amplification when one target dominates
(aggregation state per key is O(1), not a list of anchors).

Href resolution contract (frozen; the contract query pins it):
absolute ``http(s)://`` kept as-is; root-relative ``/path`` resolved
against the source page's scheme+host; protocol-relative ``//host/p``
takes the source scheme; everything else (fragments, mailto:,
javascript:, path-relative) is dropped. Anchor text is trimmed and
internal whitespace collapsed; empty anchors are dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Java-regex and RE2 compatible (no lookarounds): double-quoted href,
# anchor body up to the first tag.
ANCHOR_RE = r'<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'

_URL_PREFIX = r"^([a-z]+)://([^/?#]+)"


def _base_parts(url: Column) -> tuple[Column, Column]:
    return (F.regexp_extract(url, _URL_PREFIX, 1),
            F.regexp_extract(url, _URL_PREFIX, 2))


def extract_anchors(pages: DataFrame) -> DataFrame:
    """(url, html) -> one row per resolvable anchor:
    (src_url, src_host, target_url, target_host, anchor)."""
    html = F.col("html_str")
    pairs = F.arrays_zip(
        F.regexp_extract_all(html, F.lit(ANCHOR_RE), 1).alias("href"),
        F.regexp_extract_all(html, F.lit(ANCHOR_RE), 2).alias("txt"))
    scheme, host = _base_parts(F.col("url"))
    ex = (pages
          .select(F.col("url").alias("src_url"),
                  scheme.alias("_scheme"), host.alias("src_host"),
                  F.explode(pairs).alias("p"))
          .select("src_url", "_scheme", "src_host",
                  F.col("p.href").alias("href"),
                  F.regexp_replace(F.trim(F.col("p.txt")), r"\s+", " ")
                  .alias("anchor")))
    href = F.col("href")
    target = (F.when(href.rlike(r"^https?://"), href)
              .when(href.startswith("//"),
                    F.concat(F.col("_scheme"), F.lit(":"), href))
              .when(href.startswith("/"),
                    F.concat(F.col("_scheme"), F.lit("://"),
                             F.col("src_host"), href)))
    return (ex.withColumn("target_url", target)
            .filter(F.col("target_url").isNotNull()
                    & (F.col("anchor") != ""))
            .withColumn("target_host",
                        F.lower(F.regexp_extract("target_url",
                                                 _URL_PREFIX, 2)))
            .select("src_url", "src_host", "target_url", "target_host",
                    "anchor"))


def anchor_text_agg(anchors: DataFrame) -> DataFrame:
    """Per target host: in-link count, distinct source hosts, and the
    most frequent anchor text (ties broken lexicographically — the
    deterministic pick the oracle can mirror). Two shuffles total,
    both with map-side combine; the top-anchor pick runs over the
    per-(host, anchor) counts table, never the raw anchor rows."""
    per_anchor = (anchors.groupBy("target_host", "anchor")
                  .agg(F.count(F.lit(1)).alias("cnt")))
    top = (per_anchor.groupBy("target_host")
           .agg(F.min(F.struct((-F.col("cnt")).alias("neg"),
                               F.col("anchor").alias("a"))).alias("m"))
           .select("target_host", F.col("m.a").alias("top_anchor")))
    totals = (anchors.groupBy("target_host")
              .agg(F.count(F.lit(1)).alias("n_links"),
                   F.countDistinct("src_host").alias("n_src_hosts")))
    return totals.join(top, "target_host")


# --- sitemap parsing (r6) --------------------------------------------------

# one pattern for both <urlset> entries (<url>) and <sitemapindex>
# entries (<sitemap>); <lastmod> is optional and comes back "" when
# absent (same-pattern extraction keeps the two arrays aligned)
SITEMAP_RE = (r"<(?:url|sitemap)>\s*<loc>([^<]*)</loc>"
              r"(?:\s*<lastmod>([^<]*)</lastmod>)?")


def parse_sitemaps(pages: DataFrame) -> DataFrame:
    """Sitemap/sitemapindex parsing (sitemaps.org protocol) — the
    crawl-seeding step next to robots.txt: one row per <loc> entry
    with its optional <lastmod>, tagged 'index' when the document is
    a <sitemapindex> (its locs are child sitemaps to fetch, not
    pages). Single JVM regexp_extract_all over the XML — zero Python,
    zero shuffle, scan speed at any scale."""
    xml = F.col("xml")
    pairs = F.arrays_zip(
        F.regexp_extract_all(xml, F.lit(SITEMAP_RE), 1).alias("loc"),
        F.regexp_extract_all(xml, F.lit(SITEMAP_RE), 2).alias("lastmod"))
    kind = F.when(xml.contains("<sitemapindex"),
                  F.lit("index")).otherwise(F.lit("urlset"))
    return (pages
            .select(F.col("url").alias("sitemap_url"),
                    kind.alias("kind"), F.explode(pairs).alias("p"))
            .select("sitemap_url", "kind",
                    F.col("p.loc").alias("loc"),
                    F.col("p.lastmod").alias("lastmod"))
            .filter(F.col("loc") != ""))


# --- politeness-aware frontier scheduling (r6) -----------------------------

def frontier_schedule(urls: DataFrame, n_parts: int = 32) -> DataFrame:
    """Crawl-frontier fetch ordering with per-host politeness: each
    URL gets its round-robin position within its host (rank), then a
    contiguous global fetch sequence ordered by (rank, host, url) —
    so pass 1 takes one URL from EVERY host before pass 2 starts,
    which is exactly the per-host spacing a polite fetcher wants.

    Scale shape: the rank window partitions by host (per-host state
    only; a hot host makes a big partition but never a global one),
    and the global sequence comes from
    sampling.global_order_index — range-partition + map-side local
    ranks + broadcast offsets, NO single-partition sort. Emits
    (url, host, rank, fetch_seq)."""
    from pyspark.sql import Window as W

    from .sampling import global_order_index
    ranked = urls.select(
        F.col("url"), F.col("host"),
        F.row_number().over(
            W.partitionBy("host").orderBy("url"))
        .cast("long").alias("rank"))
    idx = global_order_index(ranked, ["rank", "host", "url"],
                             id_col="url", n_parts=n_parts)
    return (ranked.join(idx, "url")
            .select("url", "host", "rank",
                    F.col("global_idx").alias("fetch_seq")))


# --- HTML table extraction (r6) --------------------------------------------

TABLE_ROW_RE = r"(?s)<tr[^>]*>(.*?)</tr>"   # (?s): rows span newlines
TABLE_CELL_RE = r"<t[dh][^>]*>([^<]*)</t[dh]>"


def extract_html_tables(pages: DataFrame) -> DataFrame:
    """Structured table extraction (the tabular-data mining step a
    web corpus runs for fact/QA datasets): every <tr> of every page
    explodes to (url, row_idx, col_idx, cell) with document-order
    indices — two nested posexplodes over JVM regexp_extract_all,
    zero Python, zero shuffle. Subset contract: cells are plain text
    (nested markup inside a cell stops at the first tag, like the
    anchor extractor); <th> and <td> are both cells."""
    html = F.col("html_str")
    rows = F.regexp_extract_all(html, F.lit(TABLE_ROW_RE), 1)
    ex = (pages.select(F.col("url"),
                       F.posexplode(rows).alias("row_idx", "row_html"))
          .select("url", "row_idx",
                  F.posexplode(
                      F.regexp_extract_all(F.col("row_html"),
                                           F.lit(TABLE_CELL_RE), 1))
                  .alias("col_idx", "cell")))
    return (ex.withColumn("cell",
                          F.regexp_replace(F.trim("cell"), r"\s+", " "))
            .filter(F.col("cell") != "")
            .select("url", F.col("row_idx").cast("long"),
                    F.col("col_idx").cast("long"), "cell"))
