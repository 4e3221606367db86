"""Deterministic cardinality sketches (HyperLogLog registers).

Spark's own ``approx_count_distinct`` is HLL++ under the hood, but its
hash is engine-private — the result can't be checked against another
engine bit-for-bit. This module implements the classic HyperLogLog
register construction (Flajolet et al. 2007, public method) on the
repo's md5 hash seam, so the ENTIRE sketch state is reproducible in
DuckDB: 32-bit hash H = first 8 md5 hex digits, register = top p bits,
rho = leading-zero count of the remaining (32-p) bits + 1, register
value = max rho. The query-layer contract checks the registers
themselves (integer-exact); the float estimate is derived OUTSIDE the
oracle path (pytest pins it within HLL's standard error).

Scale shape: one ``groupBy(register).agg(max(rho))`` — 2^p groups
(256 at p=8), perfectly map-side combinable; the sketch for a 100 TB
table is 2^p longs regardless of cardinality, and sketches of
partitions merge by element-wise max (the HLL union), which is what
makes it the standard distributed distinct-counter.

Reference analog: the run-totals the reference keeps while walking
presentations (`pptx_extractor/pptx_extract.py:157-182`) — lifted to
the sublinear-state regime the reference never needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hll_registers(df: DataFrame, key_col: str, p: int = 8) -> DataFrame:
    """HyperLogLog register table for the values of ``key_col``:
    (register, max_rho), only registers that were hit. Deterministic
    across engines (md5 seam, integer math only)."""
    if not 4 <= p <= 16:
        raise ValueError("hll_registers: p must be in [4, 16]")
    low_bits = 32 - p
    h = F.conv(F.substring(F.md5(F.col(key_col)), 1, 8), 16, 10) \
        .cast("long")
    return (df.select(h.alias("_h"))
            .select(F.expr(f"_h div {1 << low_bits}").alias("register"),
                    F.expr(f"_h % {1 << low_bits}").alias("_v"))
            .select("register", F.expr(
                f"case when _v = 0 then {low_bits + 1} "
                f"else {low_bits + 1} - length(conv(_v, 10, 2)) end")
                .cast("long").alias("_rho"))
            .groupBy("register")
            .agg(F.max("_rho").alias("max_rho")))


def theta_sketch(df: DataFrame, key_col: str, group_col: str,
                 k: int = 32) -> DataFrame:
    """KMV/theta sketch (Bar-Yossef et al. 2002 / DataSketches theta,
    public method) per group: the k SMALLEST distinct 32-bit hashes of
    the group's keys — the sketch whose ENTIRE state is an exact SQL
    expression (ORDER BY hash LIMIT k), unlike register sketches.
    Emits (group, rank, hval, est): est rides on the k-th value,
    (k-1) * 2^32 div hval_k (integer-exact, so it sits under the
    oracle hash too); groups with < k distinct keys get est = their
    exact distinct count.

    Scale shape: distinct-hash collapse (combiner-friendly groupBy),
    then a per-group rank window over the collapsed table — per-group
    state is the group's distinct-hash set, and the output is k rows
    per group no matter how big the table. Sketches of partitions
    union by "merge, dedup, keep k smallest" — the same query shape.
    """
    from pyspark.sql import Window as W
    if k < 2:
        raise ValueError("theta_sketch: k must be >= 2")
    h = F.conv(F.substring(F.md5(F.col(key_col)), 1, 8), 16, 10) \
        .cast("long")
    hashes = (df.select(F.col(group_col).alias("grp"), h.alias("hval"))
              .groupBy("grp", "hval").agg(F.lit(1)))
    w = W.partitionBy("grp").orderBy("hval")
    ranked = (hashes
              .withColumn("rank", F.row_number().over(w))
              .withColumn("n_seen", F.count(F.lit(1)).over(
                  W.partitionBy("grp")))
              .filter(F.col("rank") <= k))
    kth = (ranked.groupBy("grp")
           .agg(F.max(F.when(F.col("rank") == k, F.col("hval")))
                .alias("kth"),
                F.max("n_seen").alias("n_all")))
    est = (F.when(F.col("kth").isNull(), F.col("n_all"))
           .otherwise(F.expr(f"({k} - 1) * 4294967296 div kth")))
    return (ranked.drop("n_seen").join(kth, "grp")
            .select(F.col("grp").alias(group_col),
                    F.col("rank").cast("long"),
                    F.col("hval").cast("long"),
                    est.cast("long").alias("est")))


CM_DEPTH = 4


def count_min_sketch(df: DataFrame, key_col: str, w: int = 256) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005, public method):
    a d x w integer counter matrix (d = ``CM_DEPTH``); cell
    (j, h_j(key) % w) += 1 per row, point estimate = min_j over a
    key's d cells (always >= the true count). Like theta_sketch the
    ENTIRE state is oracle-exact: each hash is the md5 seam over
    'cm{j}|key', so DuckDB rebuilds the matrix cell-for-cell.

    Scale shape: one explode to d rows per input row, then a
    combiner-friendly groupBy over at most d*w cells — sketch size is
    d*w longs regardless of input size, and partition sketches merge
    by cell-wise SUM (the linearity property that makes CM the
    standard distributed frequency sketch). Emits (row, col, cnt)."""
    if w < 2:
        raise ValueError("count_min_sketch: need w >= 2")
    rows = F.explode(F.array(*[F.lit(j) for j in range(CM_DEPTH)])
                     ).alias("row")
    cell = (F.conv(F.substring(F.md5(
        F.concat(F.lit("cm"), F.col("row"), F.lit("|"),
                 F.col(key_col))), 1, 8), 16, 10)
        .cast("long") % w)
    return (df.select(F.col(key_col), rows)
            .select(F.col("row").cast("long"), cell.alias("col"))
            .groupBy("row", "col")
            .agg(F.count(F.lit(1)).alias("cnt")))


def _theta_pair(df: DataFrame, key_col: str, group_col: str, group_a: str,
                group_b: str, k: int, how: str, n_col: str,
                est_col: str) -> DataFrame:
    """One row (``n_col``, theta, ``est_col``) from the two groups' KMV
    sketches: theta = min of the groups' k-th smallest hashes (2^32
    when a group holds < k distinct keys), ``n_col`` = A's retained
    hashes below theta that ``how``-join B's, ``est_col`` = ``n_col``
    * 2^32 div theta."""
    sk = theta_sketch(
        df.filter(F.col(group_col).isin(group_a, group_b)),
        key_col, group_col, k=k)
    thetas = (sk.groupBy(group_col)
              .agg(F.coalesce(
                  F.max(F.when(F.col("rank") == k, F.col("hval"))),
                  F.lit(1 << 32)).alias("g_theta")))
    theta = thetas.agg(F.min("g_theta").alias("theta"))
    a = sk.filter(F.col(group_col) == group_a).select("hval")
    b = sk.filter(F.col(group_col) == group_b).select("hval")
    pairs = a.join(b, "hval", how).join(F.broadcast(theta))
    # global agg (no groupBy) returns its one row even when the
    # filtered frame is empty; the 1-row theta re-joins after, so the
    # (0, theta, 0) disjoint case survives to the caller
    n = (pairs.filter(F.col("hval") < F.col("theta"))
         .agg(F.count(F.lit(1)).alias(n_col)))
    return (n.join(F.broadcast(theta))
            .select(F.col(n_col).cast("long"),
                    F.col("theta").cast("long"),
                    F.expr(f"{n_col} * 4294967296 div theta")
                    .cast("long").alias(est_col)))


def theta_intersect(df: DataFrame, key_col: str, group_col: str,
                    group_a: str, group_b: str, k: int = 32) -> DataFrame:
    """Set-intersection cardinality from two groups' KMV sketches
    (the theta-sketch set algebra): theta = min of the groups' k-th
    smallest hashes (2^32 when a group holds < k distinct keys, i.e.
    its sketch is exact), estimate = |common hashes below theta| *
    2^32 div theta — integer-exact end to end, so the whole
    derivation sits under the oracle hash. ALWAYS emits exactly one
    row (n_common, theta, est_intersection) — a disjoint pair yields
    (0, theta, 0), not an empty frame (r6 ADVICE: the old
    groupBy-on-theta returned zero rows when no common hash sat
    below theta, breaking single-row readers).

    Scale shape: everything downstream of theta_sketch touches at
    most 2k rows — the sketches ARE the data exchanged; this is why
    sketch set-algebra replaces distinct-joins at 100 TB."""
    return _theta_pair(df, key_col, group_col, group_a, group_b, k,
                       "inner", "n_common", "est_intersection")


def theta_a_not_b(df: DataFrame, key_col: str, group_col: str,
                  group_a: str, group_b: str, k: int = 32) -> DataFrame:
    """Set-DIFFERENCE cardinality |A \\ B| from the two groups' KMV
    sketches (r7 — completing the theta set algebra next to
    :func:`theta_intersect`; the DataSketches a-not-b, public
    method): theta = min of the groups' k-th hashes (2^32 for an
    exact, sub-k group); the estimate counts A's retained hashes
    below theta that do NOT appear in B's sketch, scaled by
    2^32 div theta. Integer-exact end to end, and ALWAYS exactly one
    row (n_a_only, theta, est_a_not_b) — (0, theta, 0) when A's
    sketch is fully covered by B's.

    Scale shape: identical to theta_intersect — everything downstream
    of theta_sketch touches at most 2k rows; the anti-join runs on
    the k-row sketches, never the data."""
    return _theta_pair(df, key_col, group_col, group_a, group_b, k,
                       "left_anti", "n_a_only", "est_a_not_b")
