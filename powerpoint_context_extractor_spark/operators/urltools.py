"""URL canonicalization — the dedup key-prep every crawl pipeline runs
before url-level dedup/frontier work (reference keys files by path,
pptx_extract.py:44-71; a web corpus keys by canonical URL).

All steps are single regexp_replace/extract expressions (JVM codegen,
zero shuffles, scan speed at any scale). Patterns avoid lookarounds so
they run identically under Java regex (Spark) and RE2 (DuckDB); the
oracle mirrors each step with ``\\1`` capture syntax in place of
``$1``.

Canonical form (frozen; the contract query pins it):
1. strip the #fragment;
2. lowercase scheme://host (path/query case is preserved);
3. drop default ports :80 (http) / :443 (https);
4. remove tracking params (utm_*, gclid, fbclid) wherever they sit in
   the query string, fixing ?/& separators;
5. drop a trailing '?' or '&' left by removals.
"""

from __future__ import annotations

from pyspark.sql import functions as F

_TRACK = r"(utm_[^=&#]*|gclid|fbclid)"
_PREFIX = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*"


def canonical_url(col: F.Column) -> F.Column:
    """Column expression: canonicalized URL (see module docstring)."""
    u = F.regexp_replace(col, r"#.*$", "")
    prefix = F.regexp_extract(u, _PREFIX, 0)
    # lowercase scheme+host: lower(prefix) + remainder
    u = F.concat(F.lower(prefix),
                 u.substr(F.length(prefix) + 1, F.lit(1 << 30)))
    u = F.regexp_replace(u, r"^(http://[^/?#:]+):80([/?]|$)", "$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?#:]+):443([/?]|$)", "$1$2")
    u = F.regexp_replace(u, r"&" + _TRACK + r"=[^&#]*", "")
    u = F.regexp_replace(u, r"\?" + _TRACK + r"=[^&#]*&", "?")
    u = F.regexp_replace(u, r"\?" + _TRACK + r"=[^&#]*$", "")
    u = F.regexp_replace(u, r"[?&]$", "")
    return u


# Frozen public-suffix subset (r4): the host-level grouping key every
# crawl pipeline actually wants is the REGISTRABLE domain (eTLD+1,
# publicsuffix.org rules), not the raw host — www.bbc.co.uk and
# news.bbc.co.uk are one site. The full PSL is ~9k entries and updates
# weekly; this frozen subset implements the ALGORITHM (longest matching
# suffix wins; unlisted TLD ⇒ the TLD itself is the suffix) over the
# common suffix shapes, and the DuckDB oracle mirrors the same lists —
# swapping in the full list is a data change, not a code change.
PSL_2 = ("co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au",
         "org.au", "co.jp", "or.jp", "ne.jp", "com.br", "com.cn",
         "com.mx", "co.kr", "co.in", "co.nz", "github.io",
         "blogspot.com", "herokuapp.com")
PSL_3 = ("s3.amazonaws.com",)


def registrable_domain(col: F.Column) -> F.Column:
    """Column expression: eTLD+1 of a hostname. Longest listed suffix
    wins (3-label > 2-label); any other TLD is its own suffix (the PSL
    prevailing-star rule), so `x.unknowntld` -> `x.unknowntld`. A host
    that IS a bare suffix, or a single label, comes back unchanged
    (take = min(suffix+1, n)). Pure HOF/codegen — zero shuffles.
    CaseWhen branches evaluate lazily, so the k-label suffix slice is
    only computed when the host has >= k labels."""
    labels = F.split(col, r"\.")
    n = F.size(labels)

    def suf(k: int) -> F.Column:
        return F.when(n >= k,
                      F.array_join(F.slice(labels, n - k + 1, k), "."))

    sl = (F.when(suf(3).isin(*PSL_3), 3)
          .when(suf(2).isin(*PSL_2), 2)
          .otherwise(1))
    take = F.least(sl + 1, n)
    return F.array_join(F.slice(labels, n - take + 1, take), ".")


# --- SURT (Sort-friendly URI Reordering Transform) — the CDX urlkey --------
#
# Frozen contract (pinned by the web_cdx_index oracle + the
# Spark-vs-Python equality pytest): drop the scheme, lowercase the
# host, strip one leading "www." label, reverse the remaining labels
# joined by ",", append ")" + the path/query remainder verbatim.
# `https://www.News.example/Docs/5?q=1` -> `example,news)/Docs/5?q=1`.

def surt_key_py(url: str) -> str:
    """SURT urlkey of a URL, for file-side indexers (CDX lines are built
    inside a row_map); equality with a Spark-expression twin is
    pytest-pinned."""
    import re
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", url)
    if not m:
        return ")" + url
    host = m.group(1).lower()
    host = re.sub(r"^www\.", "", host)
    rest = url[m.end():]
    return ",".join(reversed(host.split("."))) + ")" + rest
