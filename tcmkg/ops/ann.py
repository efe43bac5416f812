"""Approximate nearest neighbors over an embedding column.

Baseline: brute-force cosine top-k (contract query q_ann_topk — the exact
answer an index must approximate). Scale path: IVF (inverted-file) —
k-means-cluster the corpus, search only the `nprobe` nearest cells:

    build_ivf    deterministic Lloyd's k-means as DataFrame ops (assign =
                 kernels/vec.assign, a mapInPandas nearest-centroid map
                 with the centroids in its closure; update = map-side-
                 combinable groupBy avg)
    ivf_search   query -> nprobe nearest centroids -> brute force within
                 those cells only (a broadcast-join + window top-k)

With nprobe == n_centroids IVF degenerates to exact brute force (tested);
recall at small nprobe is the usual IVF trade (tested >= threshold on the
driver's embeddings table).

All vectors are cast to double. Cosine, nearest-centroid and the in-memory
math come from kernels/vec.py; a degenerate vector (NULL, zero norm) has a
NULL cosine, which loses every top-k and probe ranking and sends it to
the first centroid on assignment.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernels import vec


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _means(df: DataFrame, keys: list[str], vec_col: str) -> DataFrame:
    """-> (keys..., cvec): per-key element-wise mean of `vec_col`, one
    map-side-combinable groupBy(keys, pos) average reassembled in pos
    order. NULL vectors contribute nothing (posexplode skips them)."""
    return (
        df.select(*keys, F.posexplode(vec_col).alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(*keys, F.transform("pm", lambda s: s["m"]).alias("cvec"))
    )


def _lloyd(S: np.ndarray, k: int, n_iter: int) -> np.ndarray:
    """Lloyd's k-means over in-memory rows S (cosine assign via
    vec.nearest), seeded with the first k rows: -> (min(k, len(S)), dim)
    centroids. A cluster that attracts nothing keeps its previous
    centroid, so k never shrinks."""
    C = S[:k].copy()
    for _ in range(n_iter):
        a = vec.nearest(S, C)
        for c in range(len(C)):
            members = S[a == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def build_ivf(
    emb: DataFrame, id_col: str, vec_col: str, n_centroids: int = 8, n_iter: int = 5
) -> tuple[DataFrame, DataFrame]:
    """-> (centroids(cid, cvec), assignments(id, cid)).

    Returns exactly n_centroids cells (bounded by the input row count):
    a cluster that goes empty in a Lloyd round keeps its previous centroid
    rather than silently shrinking k — ivf_search's nprobe/recall semantics
    are sized against n_centroids.

    Deterministic init: centroids = vectors of the n smallest ids. Each
    Lloyd round is ONE map-side-combinable groupBy-avg; the assign step is
    a pure map (vec.assign — no crossJoin, no window, no Exchange).
    Centroids round-trip through the driver each round: k vectors, the
    same tiny payload a broadcast would ship, but without a per-round
    shuffle to argmin them.

    Scale note: the kernel closure holds k*dim scalars — fine through k in
    the thousands at typical dims. At the k ~ 10^5-10^6 a trillion-vector
    corpus wants, use build_ivf2 (hierarchical: sample-based coarse cells +
    one joint sub-kmeans, each row scoring only its own cell's
    sub-centroids)."""
    base = emb.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    base = base.localCheckpoint()  # iterated below; truncate lineage once
    seed_rows = base.orderBy("id").limit(n_centroids).collect()  # tiny: k vectors
    cent_list = [(i, list(r["v"])) for i, r in enumerate(seed_rows)]
    for _ in range(n_iter):
        new_cent = _means(vec.assign(base, "v", cent_list, "cid"), ["cid"], "v").collect()
        # a centroid that attracted no vectors this round vanishes from the
        # groupBy result; keep its previous position instead of silently
        # shrinking k (callers size nprobe/recall against n_centroids)
        updated = {r["cid"]: list(r["cvec"]) for r in new_cent}
        cent_list = sorted(
            (cid, updated.get(cid, prev)) for cid, prev in cent_list
        )
    assignments = vec.assign(base, "v", cent_list, "cid").select("id", "cid")
    cent = emb.sparkSession.createDataFrame(
        cent_list, "cid int, cvec array<double>"
    )
    return cent, assignments


def build_ivf2(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_coarse: int = 4,
    n_sub: int = 4,
    n_iter: int = 3,
    sample_size: int = 512,
) -> tuple[DataFrame, DataFrame]:
    """Two-level (hierarchical) IVF build — the k ~ 10^5+ path build_ivf's
    scale note names. Effective k = n_coarse * n_sub cells, yet no row
    scores more than n_coarse + n_sub centroids:

      level 1  coarse k-means (_lloyd) on a deterministic sample (the n
               smallest ids), run driver-side in numpy — the sample is tiny
               by construction.
      level 2  ONE JOINT sub-kmeans across all coarse cells: each Lloyd
               round assigns with vec.assign keyed by the row's coarse cid
               (the cid -> sub-centroids map rides in the kernel closure),
               then updates with a single map-side-combinable
               groupBy(cid, scid) average. Cost per round is independent
               of the number of cells; the fact table is never
               hash-shuffled (asserted in tests).

    The closure holds the index itself (n_coarse*n_sub vectors) — the same
    thing ivf_search must broadcast anyway, so memory is not a new
    constraint. Empty (cid, scid) cells keep their previous centroid (no
    silent k shrink, same rule as build_ivf).

    -> (centroids(cid, scid, gid, cvec), assignments(id, cid, scid, gid))
    with gid = cid * n_sub + scid, the flat cell id ivf_search consumes via
    flatten_ivf2."""
    base = emb.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    base = base.localCheckpoint()

    samp = base.filter(F.col("v").isNotNull()).orderBy("id").limit(sample_size).toPandas()["v"]
    S, bad = vec.stack(samp, len(samp.iloc[0]))
    S = S[~bad]
    C = _lloyd(S, n_coarse, n_iter)
    k1 = len(C)
    coarse_list = [(i, [float(x) for x in C[i]]) for i in range(k1)]

    # sub-init from the sample: per cell, its first n_sub distinct member
    # vectors (id order); short cells pad with the coarse centroid — a
    # duplicate seed attracts nothing and the keep-previous rule retains it,
    # so every cell keeps exactly n_sub sub-centroids
    a = vec.nearest(S, C)
    sub: dict[int, list[list[float]]] = {}
    for c in range(k1):
        seen, picks = set(), []
        for v in S[a == c]:
            t = tuple(v)
            if t not in seen:
                seen.add(t)
                picks.append([float(x) for x in v])
            if len(picks) >= n_sub:
                break
        while len(picks) < n_sub:
            picks.append([float(x) for x in C[c]])
        sub[c] = picks

    coarse_assigned = vec.assign(base, "v", coarse_list, "cid")

    def sub_assign():
        tables = {c: list(enumerate(vecs)) for c, vecs in sub.items()}
        return vec.assign(coarse_assigned, "v", tables, "scid", key_col="cid")

    for _ in range(n_iter):
        new_sub = _means(sub_assign(), ["cid", "scid"], "v").collect()  # k1*k2 rows
        updated = {(r["cid"], r["scid"]): list(r["cvec"]) for r in new_sub}
        sub = {
            c: [updated.get((c, s), prev) for s, prev in enumerate(vecs)]
            for c, vecs in sub.items()
        }

    assignments = sub_assign().select(
        "id", "cid", "scid",
        (F.col("cid") * n_sub + F.col("scid")).cast("int").alias("gid"),
    )
    centroids = emb.sparkSession.createDataFrame(
        [
            (c, s, c * n_sub + s, v)
            for c, vecs in sorted(sub.items())
            for s, v in enumerate(vecs)
        ],
        "cid int, scid int, gid int, cvec array<double>",
    )
    return centroids, assignments


def flatten_ivf2(
    centroids: DataFrame, assignments: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Two-level index -> the flat (cid, cvec) / (id, cid) shape ivf_search
    consumes: gid becomes the flat cell id."""
    return (
        centroids.select(F.col("gid").alias("cid"), "cvec"),
        assignments.select("id", F.col("gid").alias("cid")),
    )


def _nearest_cells(pairs: DataFrame, cell_col: str, n: int) -> DataFrame:
    """Query x centroid rows (qid, qv, cvec, cell_col, ...) -> the n rows
    per query whose cvec has the highest cosine to qv, cvec dropped. NULL
    cosines (zero-norm centroid or query) rank LAST — Spark's ascending
    default would rank them first and hand every probe slot to a
    degenerate cell; ties go to the lowest cell id."""
    w = Window.partitionBy("qid").orderBy(
        F.col("_cos").desc_nulls_last(), F.col(cell_col)
    )
    return (
        pairs.withColumn("_cos", vec.cosine_udf("qv", "cvec"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_cos", "_rk", "cvec")
    )


def _scan_cells(
    probe: DataFrame, assignments: DataFrame, emb: DataFrame,
    id_col: str, vec_col: str, cell_col: str, topk: int,
) -> DataFrame:
    """Cell-pruned brute force: each (qid, qv, cell) probe row pairs only
    with the corpus vectors assigned to that cell -> (qid, rk, neighbor)
    cosine top-k, ties -> lowest id, NULL cosines last."""
    base = emb.select(F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("nv"))
    cand = probe.join(
        assignments.select(F.col("id").alias("nid"), cell_col), cell_col
    ).join(base, "nid")
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        cand.withColumn("cos", vec.cosine_udf("qv", "nv"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("qid", F.col("rk").cast("long").alias("rk"), F.col("nid").alias("neighbor"))
    )


def ivf2_search(
    queries: DataFrame,
    emb: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    id_col: str,
    vec_col: str,
    n_coarse_probe: int = 2,
    nprobe: int = 2,
    topk: int = 3,
) -> DataFrame:
    """Hierarchical probe over a build_ivf2 index: rank COARSE cells first
    (each coarse centroid = mean of its sub-centroids — derived here from
    the tiny centroids table, no extra state), keep the n_coarse_probe
    nearest, then rank only THOSE cells' sub-centroids and keep nprobe gids
    per query. Query-side centroid work is O(k1 + n_coarse_probe*k2) rather
    than a flat O(k1*k2) — at k~10^5 total cells that is the difference
    between scoring ~10^5 and ~10^2 centroids per query. Candidate scan is
    then the usual cell-pruned join. With n_coarse_probe and nprobe covering
    every cell this degenerates to exact brute force (tested)."""
    coarse = _means(centroids, ["cid"], "cvec")
    probe_c = _nearest_cells(
        queries.crossJoin(F.broadcast(coarse)), "cid", n_coarse_probe
    )
    probe = _nearest_cells(
        probe_c.join(F.broadcast(centroids), "cid"), "gid", nprobe
    )
    return _scan_cells(probe, assignments, emb, id_col, vec_col, "gid", topk)


def save_ivf(store, centroids: DataFrame, assignments: DataFrame, prefix: str = "ivf") -> None:
    """Persist an IVF index as CheckpointStore stage tables — the index is
    built once per corpus snapshot and reused across search sessions (the
    Lloyd rounds are the expensive part; a search session only reads two
    tables)."""
    store.write(centroids, f"{prefix}_centroids")
    store.write(assignments, f"{prefix}_assignments")


def load_ivf(spark, store, prefix: str = "ivf") -> tuple[DataFrame, DataFrame]:
    """-> (centroids, assignments) previously saved by save_ivf."""
    return (
        store.read(spark, f"{prefix}_centroids"),
        store.read(spark, f"{prefix}_assignments"),
    )


def ivf_search(
    queries: DataFrame,
    emb: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 2,
    topk: int = 3,
) -> DataFrame:
    """-> (qid, rk, neighbor): cosine top-k searching only nprobe cells.

    queries: (qid, qv). The candidate join is cell-pruned: each query pairs
    only with vectors assigned to its nprobe nearest centroids — at 10^12
    vectors that is the difference between scanning the corpus per query
    and scanning corpus/n_centroids*nprobe."""
    probe = _nearest_cells(queries.crossJoin(F.broadcast(centroids)), "cid", nprobe)
    return _scan_cells(probe, assignments, emb, id_col, vec_col, "cid", topk)


def ivf_add(
    spark,
    store,
    emb: DataFrame,
    new_emb: DataFrame,
    id_col: str,
    vec_col: str,
    prefix: str = "ivf",
    max_cell: int | None = None,
    n_subsplit: int = 2,
    n_iter: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Incremental IVF maintenance: append `new_emb` to the PERSISTED index
    without rebuilding — the 100 TB-embedding shape where Lloyd's over the
    full corpus is a once-per-epoch event, not a per-tranche one.

      assign  each new vector goes to its nearest EXISTING centroid — the
              same vec.assign build/search use, so added assignments are
              byte-identical to assigning the grown corpus from scratch
              against the same centroids (tested).
      split   every cell whose population now exceeds `max_cell` is
              re-split LOCALLY, all in ONE groupBy(cid).applyInPandas job:
              a numpy sub-kmeans (_lloyd, k=n_subsplit, seeded with the
              cell's smallest ids) over just that cell's members replaces
              its centroid with fresh-cid sub-centroids (sequential, in
              old-cid order), and only those members are reassigned.
              Per-tranche work is O(new) + O(oversized cells), never
              O(corpus); a cell's members must fit one Python worker.

    `emb` is the GROWN corpus (old ∪ new) — the index stores (id, cid)
    only; vectors are looked up from the corpus table for the member sets
    being re-split (an index that copied vectors would double the 100 TB).

    Persists the updated (centroids, assignments) back to `store` under
    `prefix` and returns them. Search-correctness contract: full-probe
    ivf_search over the added-to index reproduces exact brute-force top-k
    (q_ann_ivf_add), exactly like a freshly built index."""
    centroids, assignments = load_ivf(spark, store, prefix)
    cent_rows = sorted(
        ((r["cid"], list(r["cvec"])) for r in centroids.collect())
    )
    base_new = new_emb.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    # id-disjointness guard: an id already in the index would end up
    # assigned twice (every subsequent search returning it twice and every
    # re-split double-counting it) — a silent corruption, so ValueError.
    # One index-sized semi-join, no corpus scan.
    n_dup = base_new.select("id").join(
        assignments.select("id"), "id", "left_semi"
    ).count()
    if n_dup:
        raise ValueError(
            f"ivf_add: {n_dup} new ids are already assigned in the index "
            "— tranche ids must be disjoint from the indexed corpus"
        )
    new_assign = vec.assign(base_new, "v", cent_rows, "cid").select("id", "cid")
    # the updated assignments still READ (lazily) from the store stage the
    # save below is about to OVERWRITE — materialize first or the writer
    # deletes its own input mid-scan (the split reads only this frame and
    # `emb`). localCheckpoint is eager and holds only (id, cid) rows; a
    # production deployment would instead write a new index snapshot
    # version and flip a pointer (same reason).
    all_assign = assignments.unionByName(new_assign).localCheckpoint()

    if max_cell is not None:
        dim = len(cent_rows[0][1])
        oversized = (
            all_assign.groupBy("cid").count()
            .filter(F.col("count") > max_cell).select("cid")
        )
        members = all_assign.join(oversized, "cid").join(
            emb.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")),
            "id",
        )

        def split(pdf):
            S, bad = vec.stack(pdf.sort_values("id")["v"], dim)
            C = _lloyd(S[~bad], n_subsplit, n_iter)
            return pd.DataFrame({
                "cid": int(pdf["cid"].iloc[0]),
                "scid": range(len(C)),
                "cvec": list(C),
            })

        subs = sorted(
            (r["cid"], r["scid"], list(r["cvec"]))
            for r in members.select("cid", "id", "v").groupBy("cid").applyInPandas(
                split, "cid int, scid int, cvec array<double>"
            ).collect()  # n_subsplit rows per oversized cell
        )
        if subs:
            # retire each split cid; its sub-cells get fresh sequential cids
            next_cid = max(cid for cid, _ in cent_rows) + 1
            tables: dict[int, list] = {}
            for i, (c, _, v) in enumerate(subs):
                tables.setdefault(c, []).append((next_cid + i, v))
            split_assign = vec.assign(
                members.select("id", "cid", "v"), "v", tables, "new_cid", key_col="cid"
            ).select("id", F.col("new_cid").alias("cid"))
            all_assign = all_assign.filter(
                ~F.col("cid").isin(list(tables))
            ).unionByName(split_assign)
            cent_rows = sorted(
                [(c, v) for c, v in cent_rows if c not in tables]
                + [r for rows in tables.values() for r in rows]
            )

    new_centroids = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cent_rows],
        "cid int, cvec array<double>",
    )
    save_ivf(store, new_centroids, all_assign, prefix)
    return load_ivf(spark, store, prefix)
