"""Reusable scalar Column helpers (SURVEY.md §2.8 X-family analogs).

All JVM-side built-ins; each has an exact DuckDB twin used in the
driver-contract oracles (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column) -> Column:
    """Cross-engine-exact money: per-row round to integer cents before
    aggregation (the repo-wide oracle convention)."""
    return F.round(col * 100).cast("long")


def portable_hash(col: Column, hex_chars: int = 8,
                  modulus: int = 1_000_000_007) -> Column:
    """Deterministic cross-engine string hash (md5-prefix mod P); DuckDB
    twin ``('0x'||substr(md5(s),1,n))::BIGINT % P``."""
    return (F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10)
            .cast("long") % modulus)
