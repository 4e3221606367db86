"""As-of join and embedding near-dup semantics."""

from datetime import datetime

from pyspark.sql import functions as F

from powerpoint_context_extractor_spark.operators.joins import (
    asof_join_backward,
)
from powerpoint_context_extractor_spark.operators.similarity import (
    embedding_near_dup_pairs,
)


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_backward_basic(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00"), 100),
         (1, _ts("2024-01-01T12:00"), 101),
         (2, _ts("2024-01-01T09:00"), 200)],
        "user_id long, ts timestamp, event_id long")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:30"), 5),
         (1, _ts("2024-01-01T11:00"), 7),
         (1, _ts("2024-01-01T12:00"), 9),   # equal ts: inclusive match
         (2, _ts("2024-01-01T09:30"), 99)], # after left -> no match
        "user_id long, ts timestamp, purchase_cents long")
    out = {r["event_id"]: r["purchase_cents"]
           for r in asof_join_backward(
               left, right, key="user_id", ts="ts",
               value_cols=["purchase_cents"],
               order_tiebreak="event_id").collect()}
    assert out[100] == 5        # latest at-or-before 10:00
    assert out[101] == 9        # equal timestamp matches (inclusive)
    assert out[200] is None     # nothing before 09:00


def test_asof_hot_key_time_split_matches_unsplit(spark):
    """r4 VERDICT #6 'done' gate: one key holds ~95% of the rows — the
    hot-key path windows over (key, time bucket) so the key spreads
    across n_time_buckets tasks, and results are IDENTICAL to the
    unsplit window (including carry-ins across empty-right buckets and
    the pre-history None)."""
    left_rows = [(7, _ts(f"2024-01-0{1 + i % 9}T{i % 24:02d}:00"), i)
                 for i in range(500)] + \
                [(1, _ts("2024-01-02T10:00"), 9001),
                 # NULL-key left row: ~isin(hot_keys) is NULL for it, so
                 # the cold branch must route NULL keys explicitly or
                 # this row vanishes from the split output (r5 ADVICE #1)
                 (None, _ts("2024-01-02T11:00"), 9002)]
    right_rows = [(7, _ts(f"2024-01-0{1 + i % 9}T{i % 24:02d}:30"), i * 10)
                  for i in range(0, 500, 7)] + \
                 [(1, _ts("2024-01-01T10:00"), 5)]
    left = spark.createDataFrame(
        left_rows, "user_id long, ts timestamp, event_id long")
    right = spark.createDataFrame(
        right_rows, "user_id long, ts timestamp, purchase_cents long")
    plain = asof_join_backward(left, right, "user_id", "ts",
                               ["purchase_cents"],
                               order_tiebreak="event_id")
    split = asof_join_backward(left, right, "user_id", "ts",
                               ["purchase_cents"],
                               order_tiebreak="event_id",
                               hot_keys=[7])
    want = {(r["user_id"], r["event_id"]): r["purchase_cents"]
            for r in plain.collect()}
    got = {(r["user_id"], r["event_id"]): r["purchase_cents"]
           for r in split.collect()}
    assert got == want and len(got) == 502
    assert got[(None, 9002)] is None   # NULL-key row kept, unmatched
    # the hot branch's window really partitions by (key, _tbkt)
    plan = split._jdf.queryExecution().executedPlan().toString()
    assert "_tbkt" in plan, plan


def test_asof_matches_bruteforce_on_events(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id")
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("long")
        .alias("purchase_cents"))
    got = {r["event_id"]: r["purchase_cents"]
           for r in asof_join_backward(clicks, purch, "user_id", "ts",
                                       ["purchase_cents"],
                                       order_tiebreak="event_id").collect()}
    # brute force in python
    p_by_user: dict = {}
    for r in purch.collect():
        p_by_user.setdefault(r["user_id"], []).append((r["ts"], r["purchase_cents"]))
    for v in p_by_user.values():
        v.sort()
    for r in clicks.collect():
        cands = [c for t, c in p_by_user.get(r["user_id"], []) if t <= r["ts"]]
        want = cands[-1] if cands else None
        assert got[r["event_id"]] == want, r["event_id"]


def test_write_bucketed_preserves_external_table_data(spark, tmp_path):
    """r5 ADVICE #4: overwriting a name that previously pointed at an
    EXTERNAL table must not rmtree the user's external data directory
    (DROP TABLE intentionally keeps external data; only MANAGED
    locations are swept)."""
    import os
    from powerpoint_context_extractor_spark.operators.joins import (
        write_bucketed,
    )
    ext_dir = str(tmp_path / "external_data")
    df = spark.range(10).withColumnRenamed("id", "k")
    df.write.parquet(ext_dir)
    spark.sql("DROP TABLE IF EXISTS bkt_ext_guard")
    spark.sql(f"CREATE TABLE bkt_ext_guard (k long) USING parquet "
              f"LOCATION '{ext_dir}'")
    try:
        write_bucketed(df, "bkt_ext_guard", "k", n_buckets=2)
        # external files survived the name takeover
        assert any(f.endswith(".parquet") for f in os.listdir(ext_dir))
        assert spark.table("bkt_ext_guard").count() == 10
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_ext_guard")


def test_embedding_near_dup_finds_scaled_copies(spark):
    rows = [(i, [float(i + 1), float((i * 7) % 5), 1.0]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # small scale (1.01): same direction (cos=1) AND stays in the same
    # IVF cell; a big scale may hop cells — that recall<1 is by design
    planted = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 100).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.01).cast("float"))
        .alias("embedding"))
    pairs = {(r["id_a"], r["id_b"]): r["cos_micro"]
             for r in embedding_near_dup_pairs(
                 emb.unionByName(planted), threshold_micro=999999,
                 n_centroids=3).collect()}
    for i in range(3):
        assert (i, i + 100) in pairs          # same direction -> cos 1
        assert pairs[(i, i + 100)] == 1_000_000


def test_bloom_prefilter_one_sided_and_deterministic(spark):
    """r6: every build-side member passes the bloom prefilter (no
    false negatives — the one-sided guarantee), non-members are
    overwhelmingly rejected at 2^16 bits, a deliberately tiny bitmap
    still never drops a member, and reruns are bit-identical."""
    from powerpoint_context_extractor_spark.operators import joins
    probe = spark.createDataFrame(
        [(i, f"p{i % 50}") for i in range(300)], "id long, k string")
    build = spark.createDataFrame(
        [(f"p{j}",) for j in range(0, 50, 5)], "k string")
    members = {f"p{j}" for j in range(0, 50, 5)}
    out = joins.bloom_prefilter(probe, build, "k").collect()
    assert len(out) == 300
    assert all(r["bloom_pass"] == 1 for r in out if r["k"] in members)
    fp_keys = {r["k"] for r in out
               if r["k"] not in members and r["bloom_pass"] == 1}
    assert len(fp_keys) <= 2          # 10 keys x 3 hashes in 65536 bits
    again = joins.bloom_prefilter(probe, build, "k").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # a 32-bit bitmap saturates (many false positives) but the
    # one-sided guarantee still holds
    tiny = joins.bloom_prefilter(probe, build, "k",
                                 m_bits=32, k=2).collect()
    assert all(r["bloom_pass"] == 1 for r in tiny if r["k"] in members)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="bloom_prefilter"):
        joins.bloom_prefilter(probe, build, "k", m_bits=33)
