"""Embedding similarity: the reference's blocked-cosine clustering pass
(symptom_similarity_using_sentence_embedding.py:48-112) re-expressed for
Spark, plus the ANN building blocks a training-data pipeline needs.

Kernels (SURVEY.md §2.9):
  embed_text      Iterator pandas UDF — "model loaded once per executor".
                  No embedding model ships in this image, so the default is
                  a DETERMINISTIC hash-projection embedder (real Spark
                  plumbing, fake weights); swap `_encode_batch` for a real
                  encoder on a GPU cluster.
  block_pair_sims groupBy(block).applyInPandas — within-block pairwise
                  cosine above a threshold (the reference blocks by
                  (locus, property) to avoid O(n²); the block key is the
                  partition key here, so the quadratic stays inside blocks).
  threshold-clustering = connected components over the >threshold pair
                  edges (the reference's greedy transitive clustering at
                  sim>0.98 is exactly CC on that graph).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import vec
from ..pipeline.cc import connected_components_edges

EMBED_DIM = 64


def _encode_batch(texts: pd.Series, dim: int = EMBED_DIM) -> pd.Series:
    """Deterministic stand-in encoder: character-trigram hash projection,
    L2-normalized. Pure numpy, no model download; stable across machines."""
    out = []
    for t in texts:
        v = np.zeros(dim, dtype=np.float64)
        s = t or ""
        for i in range(len(s)):
            tri = s[i : i + 3]
            h = 2166136261
            for ch in tri:
                h = ((h ^ ord(ch)) * 16777619) & 0xFFFFFFFF
            v[h % dim] += 1.0 if (h >> 8) % 2 == 0 else -1.0
        n = math.sqrt(float((v * v).sum()))
        out.append((v / n if n > 0 else v).tolist())
    return pd.Series(out)


def make_embed_udf(encoder=None):
    """Embedding UDF factory with an injectable encoder.

    `encoder(texts: pd.Series) -> pd.Series[list[float]]` — any picklable
    callable; it ships to executors inside the UDF closure, so swapping the
    hash-projection stand-in for a real model loader changes outputs but
    NOT the operator shape, schema, or plan (tested). A heavyweight model
    should be loaded lazily inside the callable on first use (the iterator
    form calls it once per Arrow batch in one long-lived Python worker)."""
    enc = encoder or _encode_batch

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # setup-once section (a real model's lazy load happens in `enc`)
        for batch in it:
            yield enc(batch)

    return embed


# default instance (deterministic hash-projection encoder)
embed_text = make_embed_udf()


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("a", T.StringType()),
        T.StructField("b", T.StringType()),
        T.StructField("sim", T.DoubleType()),
    ]
)


def block_pair_sims(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.98,
) -> DataFrame:
    """Within-block pairwise cosine pairs above `threshold`.

    applyInPandas per block: the pairwise cosine stays quadratic ONLY
    inside a block (reference blocks by (locus, property) for the same
    reason — symptom_similarity_using_sentence_embedding.py:70-75)."""

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        if len(pdf) < 2:
            return pd.DataFrame({"a": [], "b": [], "sim": []})
        a, b, sims = _pair_cos_batch(pdf[id_col].tolist(), _stack(pdf[vec_col]))
        with np.errstate(invalid="ignore"):
            keep = sims > threshold
        return pd.DataFrame(
            {"a": np.asarray(a)[keep], "b": np.asarray(b)[keep], "sim": sims[keep]}
        )

    return (
        df.select(F.col(id_col), F.col(vec_col), F.col(block_col).alias("_blk"))
        .groupBy("_blk")
        .applyInPandas(per_block, schema=_PAIR_SCHEMA)
    )


def similarity_clusters(pairs: DataFrame) -> DataFrame:
    """(a, b) similar pairs -> (node, component): transitive clustering =
    connected components; representative = min id (deterministic), matching
    the reference's first-occurrence-wins greedy clustering under
    lexicographic ids. Pair-edge CC fast path (r6): one join + one agg per
    propagation round — see connected_components_edges."""
    return connected_components_edges(pairs.select("a", "b"))


def _stack(vs: pd.Series) -> np.ndarray:
    """vec.stack at the first row's length: a row of another length (or
    with a NULL element) is zero-filled, so its cosines are NaN."""
    return vec.stack(vs, len(vs.iloc[0]))[0]


def _pair_cos_batch(ids_l, M_l, ids_r=None, M_r=None):
    """Pairwise vec.cosine for one block (or block pair); a zero norm
    yields NaN, which compares false against any threshold. Same-set mode
    (ids_r None) expects rows SORTED by id and emits the upper triangle
    (a < b); two-set mode emits min/max-ordered pairs.
    -> (a_list, b_list, cos_array)."""
    same = ids_r is None
    if same:
        ids_r, M_r = ids_l, M_l
    cos = vec.cosine(M_l[:, None, :], M_r[None, :, :])
    if same:
        iu, ju = np.triu_indices(len(ids_l), k=1)
        return [ids_l[i] for i in iu], [ids_l[j] for j in ju], cos[iu, ju]
    iu, ju = np.indices((len(ids_l), len(ids_r)))
    iu, ju = iu.ravel(), ju.ravel()
    a_out, b_out = [], []
    for i, j in zip(iu, ju):
        x, y = ids_l[i], ids_r[j]
        a_out.append(x if x < y else y)
        b_out.append(y if x < y else x)
    return a_out, b_out, cos[iu, ju]


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    assignments: DataFrame | None = None,
    n_blocks: int = 16,
) -> DataFrame:
    """-> (a, b, cos): embedding-cosine near-duplicate pairs above
    `threshold`.

    Without `assignments` this is the exact all-pairs baseline (fine for
    verification scale, never for a corpus). Pass the (id, cid) table from
    ops/ann.build_ivf to confine the quadratic inside k-means cells (the
    scale path): only same-cell vectors pair, the standard IVF blocking
    trade — recall bounded by cell assignment, verified subset-of-exact in
    tests.

    Scoring runs as numpy block kernels (vec.cosine, r6: 8.1 s -> 1.5 s
    for 2 k vectors at dim 64 against a per-pair interpreted fold); the
    kernel accumulates dims in index order, so cosines match the oracle's
    (hash-gated by q_cos_neardup). The exact
    path tiles the pair space into `n_blocks` deterministic hash blocks:
    each vector ships to at most n_blocks+1 block-pair groups (vs once per
    PAIR through the old crossJoin), and each group scores with one
    vectorized kernel. The cell path groups by cid directly."""
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).filter(F.col("_v").isNotNull())
    id_type = base.schema["_id"].dataType.simpleString()
    out_schema = T.StructType(
        [
            T.StructField("a", base.schema["_id"].dataType),
            T.StructField("b", base.schema["_id"].dataType),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a": [], "b": [], "cos": []})
        left = pdf[pdf["_side"] == 0].sort_values("_id")
        right = pdf[pdf["_side"] == 1].sort_values("_id")
        if left.empty or (len(left) < 2 and right.empty):
            return empty
        M_l = _stack(left["_v"])
        ids_l = left["_id"].tolist()
        if right.empty:
            a, b, cos = _pair_cos_batch(ids_l, M_l)
        else:
            a, b, cos = _pair_cos_batch(ids_l, M_l, right["_id"].tolist(), _stack(right["_v"]))
        with np.errstate(invalid="ignore"):
            keep = cos >= threshold
        return pd.DataFrame(
            {"a": [x for x, k in zip(a, keep) if k],
             "b": [x for x, k in zip(b, keep) if k],
             "cos": cos[keep]}
        )

    if assignments is not None:
        grouped = (
            base.join(assignments.select(F.col("id").alias("_id"), "cid"), "_id")
            .withColumn("_side", F.lit(0))
            .groupBy("cid")
        )
    else:
        spark = emb.sparkSession
        blk = F.pmod(F.hash("_id"), F.lit(n_blocks)).cast("int")
        tagged = base.withColumn("_blk", blk)
        grid = spark.createDataFrame(
            [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
            "bi int, bj int",
        )
        left = tagged.join(
            F.broadcast(grid), tagged["_blk"] == grid["bi"]
        ).select("bi", "bj", "_id", "_v", F.lit(0).alias("_side"))
        right = tagged.join(
            F.broadcast(grid.filter(F.col("bi") != F.col("bj"))),
            tagged["_blk"] == grid["bj"],
        ).select("bi", "bj", "_id", "_v", F.lit(1).alias("_side"))
        grouped = left.unionByName(right).groupBy("bi", "bj")

    pairs = grouped.applyInPandas(score, schema=out_schema)
    return (
        pairs.select("a", "b", F.round("cos", 6).alias("cos"))
        .dropDuplicates(["a", "b"])
    )


def cluster_symptom_like(
    df: DataFrame, id_col: str, text_col: str, block_col: str,
    threshold: float = 0.98, encoder=None,
) -> DataFrame:
    """End-to-end EP3-stage-2 analogue: embed -> blocked pair sims -> CC ->
    `;`-joined member list per cluster (A10 list agg,
    symptom_similarity_using_sentence_embedding.py:103-111). `encoder`
    swaps the embedding model (see make_embed_udf)."""
    emb = df.withColumn("_v", make_embed_udf(encoder)(F.col(text_col)))
    pairs = block_pair_sims(emb, id_col, "_v", block_col, threshold)
    comp = similarity_clusters(pairs)
    return (
        comp.groupBy("component")
        .agg(F.array_join(F.array_sort(F.collect_set("node")), ";").alias("members"))
    )
