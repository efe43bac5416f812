"""Distributed connected components via checkpointed min-label propagation.

This is the Spark-native replacement for the reference's in-memory union-find
(reference: processed_code/merge_utility.py:166-231 `merge_database_by_id`):
records sharing any key merge transitively; the representative is the
component's minimum node id ("first occurrence wins" under lexicographic
record ids, which our record-id scheme makes equivalent to the reference's
row-order rule — see SURVEY.md §2.4 A3).

One loop serves every caller. It takes undirected pair edges (a, b);
canonicalization's node↔key incidence is reduced to pair edges first by
`key_edges` (a star from each key's minimum member, which spans the same
component and keeps the same minimum).

Algorithm (min-label propagation over the symmetrized, self-looped edges):
    label(n) := n
    repeat in blocks of _ROUNDS_PER_CHECK rounds:
      label(n) = min over edges (n, m), self-loop included, of label(m)
                                                  -- one join + one agg
      after the block: stop if its last round changed nothing; otherwise
      the next block propagates over base edges ∪ {n ↔ label(n)} hooks

The aggregation is MIN — partially aggregatable, so Spark's map-side
combine neutralizes hot nodes — and AQE's runtime broadcast conversion
keeps the per-round join cheap (AQE off measured 2-4x worse). Lineage is
truncated with localCheckpoint once per block, where the convergence
check runs.

Hooking (Shiloach-Vishkin style): a label is always a reachable node, so
every hook edge is intra-component and the fixpoint is unchanged, while
each block can traverse in one round the hops all previous blocks
discovered — the effective diameter contracts geometrically. The hooks are
rebuilt per block from the just-checkpointed labels frame against the
unchanged base list: a narrow union, no extra action, no stale hooks.

Measured alternatives (r6):
  * hooks off — slower: 12 rounds / 1.95 s against 9 rounds / 1.74 s
    with hooks on the diameter-12 sf0.1 near-dedup graph, and 63 rounds /
    6.8 s against 12 rounds / 1.8 s on a diameter-60 chain.
  * pointer jumping (label <- label(label) per round) — rejected: it cut
    rounds 19 -> 10 on the sf1.0 near-dedup graph, but its per-round
    self-join cost more than the rounds it saved (the min value travels
    one edge per round however the pointer forest is compressed).
  * growing blocks (3, 6, 12, ... rounds) — rejected: 21 rounds for a
    diameter-12 graph, 3.10 s vs 2.19 s for fixed 3-round blocks, which
    bound the post-fixpoint waste at 2 rounds.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# propagation rounds per convergence check + lineage checkpoint: each
# round's cost is scheduling latency, not data, on contract/bench-scale
# graphs (~0.3 s per round at sf1.0 near-dedup), so a block amortizes the
# two actions over k edge-hops. Labels decrease monotonically, so "the
# block's last round changed nothing" IS the fixpoint.
_ROUNDS_PER_CHECK = 3


def key_edges(incidence: DataFrame) -> DataFrame:
    """(node, key) incidence -> (a, b) pair edges linking every member of a
    key to the key's minimum member: one combinable min aggregation by key
    and one join. The star spans the same component as the key and keeps
    the component's minimum node, so CC labels (canonical ids) are those of
    the hyper-key graph. A single-member key yields a self-loop, so an
    isolated node is kept. Duplicate (node, key) rows only duplicate
    edges, which CC drops when it symmetrizes."""
    kmin = incidence.groupBy("key").agg(F.min("node").alias("a"))
    return incidence.join(kmin, "key").select("a", F.col("node").alias("b"))


def _is_checkpoint_leaf(df: DataFrame) -> bool:
    """True iff df's plan is a bare, already-materialized checkpoint (an
    eager localCheckpoint()/checkpoint()); inspects the analyzed plan, runs
    no job. A lazy checkpoint or a projection over a leaf is not one."""
    p = df._jdf.queryExecution().analyzed()
    return p.getClass().getSimpleName() == "LogicalRDD" and p.rdd().isCheckpointed()


def connected_components_edges(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """(a, b) undirected pair edges -> (node, component) with component =
    min node id reachable.

    One round is ONE join + ONE aggregation over the symmetrized,
    self-looped edge list: the self-loop row carries each node's own label
    into the groupBy, making min(label) exactly least(own, neighbors), and
    an `own` flag on the self row lets the same aggregation emit the old
    label — so the convergence check needs no extra join either.
    `max_iter` bounds total propagation rounds; a graph still changing
    after it warns (labels may be non-minimal) rather than capping
    silently."""
    # materialize the input projection ONCE before fanning out: sym below
    # reads the edge frame three times (fwd, rev, node set) and an
    # expensive caller plan (the near-dedup verify chain, a triple
    # assembly) would otherwise execute three times inside one job. An
    # input that already is a checkpoint leaf (the dedup chain's tagged
    # edge union) skips that action — re-materializing a leaf's narrow
    # projection is one more whole job of pure latency
    e = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    if not _is_checkpoint_leaf(edges):
        e = e.localCheckpoint()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    nodes = e.unionByName(rev).select("src").distinct()
    sym = (
        e.unionByName(rev)
        .dropDuplicates(["src", "dst"])
        .withColumn("own", F.lit(False))
        .unionByName(
            nodes.select("src", F.col("src").alias("dst"), F.lit(True).alias("own"))
        )
        .localCheckpoint()
    )
    # initial labels come straight off the sym leaf (exactly one self-loop
    # row per node) — a narrow scan, not worth a third checkpoint action
    labels = sym.filter(F.col("own")).select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )

    n_changed = 0
    done = 0
    sym_base = sym
    while done < max_iter:
        k = min(_ROUNDS_PER_CHECK, max_iter - done)
        cur = labels
        for _ in range(k):
            cur = (
                sym.join(cur.select(F.col("node").alias("dst"), "label"), "dst")
                .groupBy("src")
                .agg(
                    F.min("label").alias("label"),
                    # the self row carries this node's pre-round label; only
                    # the block's LAST round's value is read (see below)
                    F.min(F.when(F.col("own"), F.col("label"))).alias("_old"),
                )
                .select(F.col("src").alias("node"), "label", "_old")
            )
        new_labels = cur.localCheckpoint()
        done += k
        n_changed = (
            new_labels.filter(F.col("label") < F.col("_old")).limit(1).count()
        )
        labels = new_labels.drop("_old")
        if n_changed == 0:
            break
        # node ↔ label hooks off the just-checkpointed labels frame:
        # intra-component by construction (fixpoint unchanged), and a
        # duplicate of a base edge only feeds the same value into the
        # MIN aggregations again — so no dedup shuffle is spent here
        hooks = labels.filter(F.col("node") != F.col("label"))
        sym = sym_base.unionByName(
            hooks.select(
                F.col("node").alias("src"),
                F.col("label").alias("dst"),
                F.lit(False).alias("own"),
            )
        ).unionByName(
            hooks.select(
                F.col("label").alias("src"),
                F.col("node").alias("dst"),
                F.lit(False).alias("own"),
            )
        )

    if n_changed != 0:
        warnings.warn(
            f"connected_components_edges did not converge within max_iter="
            f"{max_iter} rounds (component diameter exceeds it); labels "
            "may be non-minimal. Raise max_iter.",
            stacklevel=2,
        )

    return labels.withColumnRenamed("label", "component")
