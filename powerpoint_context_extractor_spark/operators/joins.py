"""Join operators Spark lacks natively, composed from built-ins.

As-of join (time-series "latest right row at or before left ts"):
Spark has no ASOF JOIN; the standard scalable composition is
union-tag-window — one shuffle on (key), no per-group Python, no
crossJoin blowup. DuckDB *does* have ASOF JOIN, which makes this
operator directly oracle-checkable.

Bucketed co-located join (r4): the 100 TB pattern for repeated big-big
joins — pay the shuffle ONCE at write time (``bucketBy(n, key)`` +
``sortBy``), then every subsequent join on the bucket key is
exchange-free (Spark trusts the persisted hash layout). The plan-audit
test pins "zero Exchange" in the joined physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

TIME_BUCKETS = 8     # time buckets a hot as-of key spreads over


def write_bucketed(df: DataFrame, table: str, key: str,
                   n_buckets: int = 8) -> None:
    """Persist ``df`` hash-bucketed (and sorted) by ``key`` into the
    session catalog. This is the write-side half of the co-located
    join: the one-off shuffle that makes every later ``key``-join
    exchange-free.

    The in-memory catalog forgets tables across sessions while the
    managed LOCATION survives on disk, so a stale location from a
    previous process would fail table creation — drop both first.
    r4 ADVICE #5: ``table`` must be an UNQUALIFIED name (validated —
    a 'db.t' name would make the warehouse-path guess wrong), a
    catalogued table's location is resolved from the catalog rather
    than guessed, and the fallback path-guess cleanup only runs
    against a local ``file:`` warehouse."""
    import os
    import re
    import shutil

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        raise ValueError(
            f"write_bucketed needs an unqualified table name, got "
            f"{table!r} (qualified/db-prefixed names would break the "
            "stale-location cleanup)")
    spark = df.sparkSession
    if spark.catalog.tableExists(table):
        desc = {r.col_name: r.data_type
                for r in spark.sql(
                    f"DESCRIBE TABLE EXTENDED {table}").collect()}
        loc = desc.get("Location")
        managed = desc.get("Type", "").upper() == "MANAGED"
        spark.sql(f"DROP TABLE {table}")      # managed: drops data too
        # r5 ADVICE #4: DROP of an EXTERNAL table intentionally keeps
        # its data — only sweep the location for MANAGED tables, else
        # we'd destroy a user's external data directory
        if managed and loc and loc.startswith("file:"):
            shutil.rmtree(re.sub("^file:/*", "/", loc), ignore_errors=True)
    else:
        # catalog forgot the table (fresh session) but its managed dir
        # may survive on disk — only a LOCAL warehouse can be cleaned
        # by path; a remote warehouse URI has nothing stale locally
        wh = spark.conf.get("spark.sql.warehouse.dir")
        if wh.startswith("file:") or wh.startswith("/"):
            base = re.sub("^file:/*", "/", wh) if wh.startswith("file:") else wh
            shutil.rmtree(os.path.join(base, table.lower()),
                          ignore_errors=True)
    (df.write.mode("overwrite")
     .bucketBy(n_buckets, key).sortBy(key)
     .format("parquet").saveAsTable(table))


def bucketed_join(spark, left_table: str, right_table: str,
                  key: str) -> DataFrame:
    """Join two same-bucket-count tables on their bucket key. Spark
    recognizes the persisted HashPartitioning, so the physical plan has
    NO Exchange on either side — at 100 TB this turns every repeated
    fact-to-fact join on the same key into a map-side merge."""
    return spark.table(left_table).join(spark.table(right_table), key)


def asof_join_backward(left: DataFrame, right: DataFrame, key: str, ts: str,
                       value_cols: list, order_tiebreak: str | None = None,
                       hot_keys: list | None = None) -> DataFrame:
    """For each left row: values of the latest right row with
    ``right.ts <= left.ts`` (inclusive) within the same ``key``.

    Composition: tag sides, union, window ``last(value, ignorenulls)``
    over (key) ordered by (ts, side) with right-before-left on ties so
    equal timestamps match. One hash shuffle on key; scales like any
    windowed agg.

    SKEW (r4 VERDICT #6, now implemented): pass ``hot_keys`` (e.g. the
    keys of a sampled ``groupBy(key).count()``) to TIME-RANGE-SPLIT those
    keys — their rows window over ``(key, time_bucket)`` so a hot key
    spreads across ``TIME_BUCKETS`` tasks instead of one, and the
    cross-bucket state is a per-(key, bucket) latest-right aggregate
    (<= hot_keys x TIME_BUCKETS rows, broadcast back and coalesced
    in). Results are identical to the unsplit path (pinned by pytest);
    non-hot keys take the plain window."""
    lcols = left.columns
    tagged_l = left.withColumn("_side", F.lit(1))
    for v in value_cols:
        tagged_l = tagged_l.withColumn(v, F.lit(None).cast(
            dict(right.dtypes)[v]))
    tagged_r = right.withColumn("_side", F.lit(0))
    for c in lcols:
        if c not in right.columns:
            tagged_r = tagged_r.withColumn(c, F.lit(None).cast(
                dict(left.dtypes)[c]))
    u = tagged_l.select(*lcols, "_side", *value_cols).unionByName(
        tagged_r.select(*lcols, "_side", *value_cols))
    order = [F.col(ts).asc(), F.col("_side").asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc_nulls_first())

    def _windowed(rows: DataFrame, parts: list) -> DataFrame:
        w = (W.partitionBy(*parts).orderBy(*order)
             .rowsBetween(W.unboundedPreceding, 0))
        for v in value_cols:
            rows = rows.withColumn(v, F.last(v, ignorenulls=True).over(w))
        return rows

    if not hot_keys:
        return _windowed(u, [key]).filter(F.col("_side") == 1).drop("_side")

    # NULL keys must go to the cold branch explicitly: ``~isin`` is
    # NULL (not true) for a NULL key, which would silently drop those
    # left rows and diverge from the unsplit path (r5 ADVICE #1)
    cold = (_windowed(
        u.filter(F.col(key).isNull() | ~F.col(key).isin(hot_keys)), [key])
        .filter(F.col("_side") == 1).drop("_side"))

    hot_u = u.filter(F.col(key).isin(hot_keys))
    tnum = (F.unix_micros(F.col(ts).cast("timestamp"))
            if "timestamp" in dict(u.dtypes)[ts]
            else F.col(ts).cast("double"))
    mn, mx = hot_u.agg(F.min(tnum), F.max(tnum)).first() or (None, None)
    if mn is None or mx == mn:
        bkt = F.lit(0)
    else:
        # floor((t - mn) * n / span) clamped — every row gets a bucket,
        # boundaries are consistent across both sides by construction
        bkt = F.least(
            F.floor((tnum - F.lit(mn)) * TIME_BUCKETS
                    / F.lit(float(mx - mn))).cast("int"),
            F.lit(TIME_BUCKETS - 1))
    hot_b = hot_u.withColumn("_tbkt", bkt)
    within = _windowed(hot_b, [key, "_tbkt"])
    # per-(key, bucket) latest non-null right value, then the running
    # "latest as of the END of the previous bucket" — n_buckets rows
    # per hot key, so this side is tiny and broadcasts
    ord_struct = [F.col(ts).alias("_t")]
    if order_tiebreak:
        ord_struct.append(F.col(order_tiebreak).alias("_tb"))
    aggs = [
        F.max(F.when((F.col("_side") == 0) & F.col(v).isNotNull(),
                     F.struct(*ord_struct, F.col(v).alias("v"))))
        .alias(f"_bl_{v}")
        for v in value_cols
    ]
    per_bkt = hot_b.groupBy(key, "_tbkt").agg(*aggs)
    w2 = (W.partitionBy(key).orderBy("_tbkt")
          .rowsBetween(W.unboundedPreceding, -1))
    carry = per_bkt.select(
        key, "_tbkt",
        *[F.last(F.col(f"_bl_{v}"), ignorenulls=True).over(w2)
          .getField("v").alias(f"_carry_{v}") for v in value_cols])
    hot = within.join(F.broadcast(carry), [key, "_tbkt"], "left")
    for v in value_cols:
        hot = hot.withColumn(v, F.coalesce(F.col(v), F.col(f"_carry_{v}")))
    hot = (hot.filter(F.col("_side") == 1)
           .select(*lcols, *value_cols))
    return cold.unionByName(hot)


def bloom_prefilter(probe: DataFrame, build: DataFrame, key_col: str,
                    m_bits: int = 1 << 16, k: int = 3) -> DataFrame:
    """Bloom-filter join prefilter (Bloom 1970, public method): build a
    deterministic k-hash bitmap over the build side's keys and flag
    each probe row with whether ALL k bits are set. At 100 TB this is
    the shuffle-volume killer for big-big joins whose build side is
    too large to broadcast whole but whose BITMAP is not: probing is
    k broadcast hash joins against a <= m/32-row bitmap table — the
    probe side never shuffles, and rows that cannot match never enter
    the real join's exchange.

    Determinism contract: hashes are ``portable_hash("bloom"||j||key)``
    (the md5 seam), positions ``H % m_bits``, the bitmap packs 32 bits
    per word (no sign games with bit 63), and the aggregate is
    ``bit_or`` — every bit, and therefore every flag, is reproducible
    in DuckDB with the same integer math. No driver-side collect: the
    bitmap stays a DataFrame and is broadcast by the planner.

    Emits the probe DataFrame plus ``bloom_pass`` (long 0/1). The
    guarantee is one-sided, as for any Bloom filter: every true match
    has ``bloom_pass`` = 1; a pass is only probable membership."""
    from .dedup import portable_hash
    if m_bits % 32 or m_bits <= 0 or k <= 0:
        raise ValueError("bloom_prefilter: m_bits must be a positive "
                         "multiple of 32 and k > 0")

    def _pos(j: int, col):
        return portable_hash(
            F.format_string(f"bloom{j}%s", col)) % m_bits

    parts = None
    for j in range(k):
        p = (build.select(_pos(j, F.col(key_col)).alias("_pos"))
             .select(F.expr("_pos div 32").alias("word"),
                     F.expr("shiftleft(cast(1 as bigint), "
                            "cast(_pos % 32 as int))").alias("mask")))
        parts = p if parts is None else parts.unionByName(p)
    bitmap = parts.groupBy("word").agg(
        F.bit_or("mask").alias("bits"))
    out = probe
    pass_cols = []
    for j in range(k):
        bm = (bitmap.withColumnRenamed("word", f"_w{j}")
              .withColumnRenamed("bits", f"_b{j}"))
        out = (out.withColumn(f"_pos{j}", _pos(j, F.col(key_col)))
               .withColumn(f"_pw{j}", F.expr(f"_pos{j} div 32"))
               .withColumn(f"_pm{j}", F.expr(
                   f"shiftleft(cast(1 as bigint), "
                   f"cast(_pos{j} % 32 as int))"))
               .join(F.broadcast(bm),
                     F.col(f"_pw{j}") == F.col(f"_w{j}"), "left"))
        pass_cols.append(
            (F.col(f"_b{j}").bitwiseAND(F.col(f"_pm{j}"))
             == F.col(f"_pm{j}")).alias(f"_hit{j}"))
    hit = pass_cols[0]
    for c in pass_cols[1:]:
        hit = hit & c
    keep = [c for c in probe.columns]
    return out.select(*keep, F.coalesce(hit.cast("long"),
                                        F.lit(0)).alias("bloom_pass"))


def interval_join(points: DataFrame, intervals: DataFrame, t_col: str,
                  start_col: str, end_col: str, keys: list | None = None,
                  band: int = 3600, max_spans: int = 10000) -> DataFrame:
    """Banded batch interval join: match each point row to every
    interval row (same ``keys``) with start <= t < end, WITHOUT the
    broadcast-nested-loop plan Spark picks for a raw inequality join
    (a scale killer: O(|points| x |intervals|) comparisons).

    Times must be integers (epoch seconds); ``end`` is exclusive.
    Buckets of ``band`` seconds turn the inequality into an equi-join:
    each interval explodes to one copy per overlapped bucket, each
    point lives in exactly ONE bucket, so every matching pair meets
    exactly once — no post-dedup pass. The join shuffles on
    (keys..., bucket) — a real hash join, AQE-splittable on skew.
    Pick ``band`` near the typical interval length: longer intervals
    cost ceil(span/band) copies (bounded by ``max_spans``; an interval
    beyond it raises rather than silently exploding an executor).
    Empty intervals (end <= start) match nothing.
    """
    keys = list(keys or [])
    p = points.withColumn(
        "_bkt",
        F.expr(f"CAST(FLOOR({t_col} / {band}) AS BIGINT)")).alias("p")
    seq = (
        f"CASE WHEN {end_col} <= {start_col} "
        f"  THEN CAST(array() AS array<bigint>) "
        f"WHEN FLOOR(({end_col} - 1) / {band})"
        f"     - FLOOR({start_col} / {band}) > {int(max_spans)} "
        f"  THEN CAST(raise_error('interval_join: interval spans more "
        f"than max_spans buckets — raise band or max_spans') "
        f"       AS array<bigint>) "
        f"ELSE sequence(CAST(FLOOR({start_col} / {band}) AS BIGINT), "
        f"              CAST(FLOOR(({end_col} - 1) / {band}) AS BIGINT)) "
        f"END")
    iv = intervals.withColumn("_bkt", F.explode(F.expr(seq))).alias("i")
    cond = F.col("p._bkt") == F.col("i._bkt")
    for k in keys:
        cond = cond & (F.col(f"p.{k}") == F.col(f"i.{k}"))
    cond = (cond & (F.col(f"p.{t_col}") >= F.col(f"i.{start_col}"))
            & (F.col(f"p.{t_col}") < F.col(f"i.{end_col}")))
    dup = set(keys) | {"_bkt"}
    keep = ([F.col(f"p.{c}") for c in p.columns if c != "_bkt"]
            + [F.col(f"i.{c}") for c in iv.columns if c not in dup])
    return p.join(iv, cond, "inner").select(*keep)
