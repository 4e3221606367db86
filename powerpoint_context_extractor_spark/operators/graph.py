"""Distributed link-graph analytics: integer-exact PageRank.

A web corpus is also a graph — hosts link to hosts, sessions walk from
page to page — and corpus curation uses link centrality as a quality
prior (Common Crawl publishes host-level harmonic/PageRank centrality
for exactly this). This module implements the classic power-iteration
PageRank (Page et al. 1999, public method) over an edge list, in
SCALED INTEGER arithmetic so results are bit-identical across engines
and an unrolled-CTE DuckDB oracle can check every rank value exactly.

Scale shape (the point of doing this on Spark):
- the edge list shuffles ONCE per iteration on ``dst`` for the inflow
  aggregate (combiner-friendly sum) plus a join on ``src`` that AQE
  can plan broadcast when the rank table is small relative to edges;
- per-iteration lineage is truncated with ``localCheckpoint`` (or a
  reliable ``checkpoint`` when the session has a checkpoint dir) —
  without it the plan doubles per iteration, the classic iterative-
  algorithm trap;
- node count enters the per-node base term via a broadcast 1-row
  aggregate, never a driver-side ``collect``;
- dangling mass (nodes with no out-edges) is dropped, not
  redistributed: redistribution needs a global rank sum every
  iteration and the deterministic contract matters more here — the
  oracle mirrors the same choice.

Reference analog: the per-presentation relationship graph the
reference chases when dereferencing slide parts
(`pptx_extractor/slides/extractor.py:63-118`) — same deref-and-follow
shape, lifted to an iterative whole-corpus computation Spark can run
and the reference cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12
DAMPING_PCT = 85   # the classic 0.85 damping, in percent


def _truncate(df: DataFrame) -> DataFrame:
    sc = df.sparkSession.sparkContext
    reliable = sc._jsc.sc().getCheckpointDir().isDefined()
    return df.checkpoint(eager=True) if reliable else df.localCheckpoint()


def pagerank(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Weighted PageRank over an edge list (src, dst, w), all-integer.

    rank_0(v)   = SCALE div n
    contrib(u→v)= (rank(u) * w_uv) div outw(u)
    rank_k+1(v) = ((SCALE div n) * (100 - d)) div 100
                  + (d * sum_in contrib) div 100,  d = DAMPING_PCT

    Every division is integer ``div`` with positive operands, so the
    fixpoint trajectory is exactly reproducible; the DuckDB oracle
    unrolls the same ``iterations`` steps. Emits (node, rank_scaled).
    """
    if iterations < 0:
        raise ValueError("pagerank: iterations >= 0")
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node")))
             .distinct())
    # 1-row node count, broadcast onto nodes — no driver collect
    n1 = nodes.agg(F.count(F.lit(1)).alias("_n"))
    base_nodes = nodes.crossJoin(F.broadcast(n1))
    outw = edges.groupBy("src").agg(F.sum("w").alias("_ow"))
    ew = _truncate(edges.join(outw, "src")
                   .select("src", "dst", "w", "_ow"))
    d = DAMPING_PCT
    base = F.expr(f"((({SCALE} div _n) * {100 - d}) div 100)")
    ranks = _truncate(base_nodes.select(
        "node", F.expr(f"{SCALE} div _n").alias("r")))
    for _ in range(iterations):
        inflow = (ew.join(ranks.select(F.col("node").alias("src"), "r"),
                          "src")
                  .groupBy(F.col("dst").alias("node"))
                  .agg(F.sum(F.expr("(r * w) div _ow")).alias("_infl")))
        ranks = _truncate(
            base_nodes.join(inflow, "node", "left")
            .select("node",
                    (base + F.expr(
                        f"({d} * coalesce(_infl, 0)) div 100")).alias("r")))
    return ranks.select("node", F.col("r").cast("long")
                        .alias("rank_scaled"))
