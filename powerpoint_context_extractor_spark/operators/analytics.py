"""Ordered-funnel analytics — the product/behavior query shape every
event warehouse runs (view -> click -> purchase), included here
because a crawl/training pipeline uses the same ordered-first-
occurrence logic for session progress and labeling joins.

Semantics (frozen; the contract query pins them): a user reaches
step k when they have a step-k event STRICTLY AFTER their step-(k-1)
reach time; reach time = the earliest such event. Step 0 is the
plain first occurrence.

Scale shape: step 0 is one combiner-friendly groupBy(user) min; each
later step filters the event scan to ONE type, joins the previous
step's tiny (user, t) table (broadcastable once the funnel narrows),
and reduces with another grouped min — no per-user event lists are
ever collected, so a power user with millions of events costs the
same as anyone else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_counts(events: DataFrame, steps: list) -> DataFrame:
    """-> (step_idx, step, n_users) for each funnel step in order."""
    if len(steps) < 2:
        raise ValueError("funnel_counts: need at least 2 steps")
    df = events.select(F.col("user_id").alias("u"),
                       F.col("ts").alias("t"),
                       F.col("event_type").alias("et"))
    prev = None
    outs = []
    for k, step in enumerate(steps):
        stage = df.filter(F.col("et") == step)
        if prev is not None:
            stage = (stage.join(prev, "u")
                     .filter(F.col("t") > F.col("_pt")))
        cur = stage.groupBy("u").agg(F.min("t").alias("_pt"))
        outs.append(cur.agg(F.count(F.lit(1)).alias("n_users"))
                    .select(F.lit(k).cast("long").alias("step_idx"),
                            F.lit(step).alias("step"),
                            F.col("n_users").cast("long")))
        prev = cur
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def retention_cohorts(events: DataFrame, anchor_type: str) -> DataFrame:
    """Weekly retention-cohort matrix: users cohort on the WEEK of
    their first ``anchor_type`` event (week = epoch-seconds div
    604800 — integer-exact in any engine, no calendar-week dialect
    drift); cell (cohort_week, week_offset) counts distinct cohort
    users active (ANY event) that many weeks later. Offsets < 0
    (activity before signup) are excluded.

    Scale shape: one grouped min for the anchors, one join back
    (anchor table is users-sized, broadcastable), one distinct count
    over (cohort, offset) — no per-user event lists."""
    wk = F.floor(F.unix_timestamp(F.col("ts")) / 604800) \
        .cast("long")
    ev = events.select(F.col("user_id").alias("u"), wk.alias("wk"),
                       F.col("event_type").alias("et"))
    anchors = (ev.filter(F.col("et") == anchor_type)
               .groupBy("u").agg(F.min("wk").alias("cohort_week")))
    return (ev.join(anchors, "u")
            .withColumn("week_offset",
                        (F.col("wk") - F.col("cohort_week"))
                        .cast("long"))
            .filter(F.col("week_offset") >= 0)
            .groupBy("cohort_week", "week_offset")
            .agg(F.countDistinct("u").alias("n_users")))
