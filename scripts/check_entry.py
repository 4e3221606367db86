"""Pre-validate the driver contract: run every queries()[k] on Spark at
sf0.01 and diff against oracle_sql()[k] via DuckDB — row count, sorted
column names, and the driver's value canonicalization.

IMPORTANT (round-1 lesson): this mirrors the driver's *pandas* path —
DuckDB ``fetchdf()`` and Spark ``toPandas()``, columns sorted by name,
rows sorted with ``sort_values``, every cell stringified with ``str``.
Round 1 used ``fetchall()`` (HUGEINT -> Python int) and falsely passed
8 queries whose DuckDB SUM(BIGINT) came back as HUGEINT -> float64
("123.0" vs "123") under the driver's fetchdf. Do not "improve" this
back to typed comparison.

Usage: python scripts/check_entry.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _canon(df):
    """Driver-shaped canonicalization: sorted columns, sort_values over
    all columns (crashes on unhashable cells — by design, the driver
    does too), then str() every cell."""
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    df = df.reset_index(drop=True)
    return [tuple(str(v) for v in row)
            for row in df.itertuples(index=False, name=None)]


def check_query(spark, con, name: str, sf_dir: str):
    """Run ``queries()[name]`` on Spark and compare it with its
    ``oracle_sql()`` entry in DuckDB ``con`` (views over ``sf_dir``).
    Returns ``(spark_rows, problem)``: ``problem`` is None on a match,
    else the failure text. A query with no oracle is checked rows-only:
    it must run and canonicalize."""
    import __spark_entry__ as entry_mod

    try:
        spdf = entry_mod.queries()[name](spark, sf_dir).toPandas()
    except Exception as exc:  # noqa: BLE001
        return None, f"spark error: {exc}"
    oracles = entry_mod.oracle_sql()
    if name not in oracles:
        # still exercise the driver's canonicalizer (catches
        # unhashable columns like array<double> even rows-only)
        try:
            _canon(spdf)
        except Exception as exc:  # noqa: BLE001
            return len(spdf), f"canonicalizer would crash: {exc}"
        return len(spdf), None
    try:
        opdf = con.sql(oracles[name]).fetchdf()
    except Exception as exc:  # noqa: BLE001
        return len(spdf), f"duckdb error: {exc}"
    problems = []
    if sorted(spdf.columns) != sorted(opdf.columns):
        problems.append(f"cols spark={sorted(spdf.columns)} "
                        f"duck={sorted(opdf.columns)}")
    if len(spdf) != len(opdf):
        problems.append(f"rowcount spark={len(spdf)} duck={len(opdf)}")
    if not problems:
        try:
            a = _canon(spdf)
            b = _canon(opdf)
        except Exception as exc:  # noqa: BLE001
            problems.append(f"canonicalizer crash: {exc}")
        else:
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ; first diffs: {diff}")
    return len(spdf), " | ".join(problems) or None


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per testdata table."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{p}')")
    return con


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from powerpoint_context_extractor_spark.session import get_spark

    spark = get_spark("check-entry", master="local[8]", driver_memory="16g")
    con = duckdb_views(args.sf)
    oracles = entry_mod.oracle_sql()
    names = args.names or list(entry_mod.queries())
    failures = []
    for name in names:
        t0 = time.monotonic()
        rows, problem = check_query(spark, con, name, args.sf)
        dt = time.monotonic() - t0
        if problem:
            print(f"FAIL {name}: {problem}")
            failures.append(name)
        elif name not in oracles:
            print(f"ok?  {name}: rows={rows} (rows-only, no oracle)")
        else:
            print(f"PASS {name}: rows={rows} ({dt:.1f}s)")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILED: {failures}")
        return 1
    print("\nall queries match their oracles")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
