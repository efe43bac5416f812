"""Product quantization (PQ) — the embedding-compression path for ANN at
100 TB.

IVF (ops/ann.py) prunes which vectors a query scans; PQ shrinks what a
scanned vector COSTS: each d-dim float vector becomes m small codes (one
per contiguous subspace), and query-time distance is the classic ADC
(asymmetric distance computation) — the query builds an m x k lookup
table of exact subspace distances once, and every corpus vector's
approximate distance is a sum of m table entries. At float32/64-dim and
m=8/k=256 that is 64x less memory bandwidth per candidate; composed with
IVF routing it is the standard billion-scale serving layout (IVF-PQ).

Deterministic training spec (hash-pinned by contract q_ann_pq, whose
DuckDB oracle unrolls every Lloyd round as chained CTEs — the pagerank
oracle pattern):
  - subspace s covers dims [s*d/m, (s+1)*d/m); d must divide by m
  - seeds: the subvectors of the k smallest ids
  - each round: squared-L2 argmin assignment (ties -> lowest code;
    the first minimum wins), per-dim mean update ROUNDED to
    6dp (both engines' round() land on the same double, so cross-engine
    sum-order drift ~1e-15 dies nine orders below the quantum), empty
    codes keep their previous centroid (k never silently shrinks)
  - encode: final-round assignment
  - ADC: adist(q, x) = sum_s ||q_s - c[s][code_s]||^2, rounded 6dp and
    ranked on the ROUNDED value (the m-term sum's order is partition-
    dependent, so exact doubles can differ by 1 ulp), ties -> lowest id

Scale shape: training round-trips only the m*k codebook through the
driver per round (the same tiny payload a broadcast ships) — the corpus
side is one argmin projection (pure map, no shuffle) plus one
map-side-combinable groupBy per round. Encoding is a pure map. Search
joins the exploded code column against a BROADCAST per-query LUT and
reduces with one combinable groupBy — nothing is proportional to
corpus x corpus, and the big side is never hash-shuffled except the
final per-(query, doc) sum.

r6: the argmin maps (train assignment + encode) became numpy kernels
instead of higher-order-function SQL expressions: the HOF form evaluated
interpreted per element and, worse, the optimizer duplicated the open
expression into generate-inferred and join-key filters on the search
path. Measured: q_ann_pq 12.4s -> 2.2s at sf1.0 (local[32]). Every
squared distance — codes and the query LUT — is kernels/vec.sq_l2, which
accumulates in index order, the oracle's addition order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernels import vec
from .ann import _as_double, _nearest_cells


def _codes_batch(V, books_np):
    """V: (n, dim) float64 -> (n, m) int32 argmin codes: per subspace, the
    vec.sq_l2 distance to every code (index-order accumulation, the
    oracle's list-comprehension sum), and np.argmin's FIRST minimum, i.e.
    the lowest code on exact ties — the oracle's min(code) over
    min-distance rows.

    Why a numpy kernel and not JVM expressions: the HOF fold evaluated
    interpreted per element (the 77KB codes projection dominated the PQ
    plans, plans/r06), and a flat-arithmetic rewrite was worse — the
    optimizer duplicates such open expressions into generate-inferred /
    join-key filters (isnotnull(code), size(codes)>0), which re-evaluate
    the full m*k distance tree per row interpreted (measured 132s at
    sf0.01). An opaque kernel is both fast and pushdown-proof."""
    dsub = books_np[0].shape[1]
    out = np.zeros((V.shape[0], len(books_np)), dtype=np.int32)
    for s, C in enumerate(books_np):
        sub = V[:, s * dsub : (s + 1) * dsub]
        out[:, s] = np.argmin(vec.sq_l2(sub[:, None, :], C[None, :, :]), axis=1)
    return out


def _book_df(spark, books: list[list[list[float]]]) -> DataFrame:
    """Codebook as a broadcastable (s, code, cvec) frame — the single
    construction point shared by search and persistence."""
    rows = [
        (s, c, books[s][c]) for s in range(len(books))
        for c in range(len(books[s]))
    ]
    return spark.createDataFrame(rows, "s int, code int, cvec array<double>")


def _query_lut(
    queries: DataFrame, books: list[list[list[float]]],
    qid_col: str, qvec_col: str,
) -> DataFrame:
    """-> (qid, s, code, pd): the per-query ADC lookup table — built ONCE
    per query (queries x m x k rows), independent of how many cells or
    candidates that query later probes. One mapInPandas with the codebook
    in its closure: vec.sq_l2 from each query subvector to every code. An
    invalid query vector (vec.stack) gets NULL entries."""
    m, k, dsub = len(books), len(books[0]), len(books[0][0])
    qid_type = queries.schema[qid_col].dataType.simpleString()

    def kernel(batches):
        B = np.asarray(books, dtype=np.float64)  # (m, k, dsub)
        for pdf in batches:
            n = len(pdf)
            Q, bad = vec.stack(pdf[qvec_col], m * dsub)
            D = vec.sq_l2(Q.reshape(n, m, 1, dsub), B[None])  # (n, m, k)
            D[bad] = np.nan  # Spark's Arrow writer masks NaN as NULL
            yield pd.DataFrame({
                "qid": np.repeat(pdf[qid_col].values, m * k),
                "s": np.tile(np.repeat(np.arange(m, dtype=np.int32), k), n),
                "code": np.tile(np.arange(k, dtype=np.int32), n * m),
                "pd": D.ravel(),
            })

    return queries.select(qid_col, qvec_col).mapInPandas(
        kernel, schema=f"qid {qid_type}, s int, code int, pd double"
    )


def _adc_topk(probed: DataFrame, lut: DataFrame, on: list[str], topk: int) -> DataFrame:
    """Shared ADC score+rank: join exploded candidate codes against the
    broadcast LUT, reduce with one combinable sum, rank on the ROUNDED
    distance (ties -> lowest id): the m-term sum's order is partition-
    dependent, so exact doubles can differ by 1 ulp across runs/engines —
    ranking on the 6dp value keeps the top-k set deterministic."""
    dist = probed.join(F.broadcast(lut), on).groupBy("qid", "id").agg(
        F.round(F.sum("pd"), 6).alias("adist")
    )
    w = Window.partitionBy("qid").orderBy(F.col("adist").asc(), F.col("id").asc())
    return (
        dist.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("qid", "id", "adist")
    )


def _assign_frame(base: DataFrame, books: list[list[list[float]]], id_type: str) -> DataFrame:
    """(id, v) -> exploded (id, s, code, sv) assignment rows for one Lloyd
    round, via the _codes_batch kernel. Rows vec.stack marks invalid
    (NULL, wrong length, NULL element) are dropped: they contribute to no
    centroid update."""
    m = len(books)
    dsub = len(books[0][0])
    dim = m * dsub

    def kernel(batches):
        B = [np.asarray(b, dtype=np.float64) for b in books]
        for pdf in batches:
            V, null = vec.stack(pdf["v"], dim)
            keep = ~null
            V = V[keep]
            ids = pdf["id"].values[keep]
            if not len(ids):
                yield pd.DataFrame({"id": [], "s": [], "code": [], "sv": []})
                continue
            codes = _codes_batch(V, B)
            yield pd.concat(
                [
                    pd.DataFrame(
                        {
                            "id": ids,
                            "s": np.full(len(ids), s, dtype=np.int32),
                            "code": codes[:, s],
                            "sv": list(V[:, s * dsub : (s + 1) * dsub]),
                        }
                    )
                    for s in range(m)
                ],
                ignore_index=True,
            )

    return base.select("id", "v").mapInPandas(
        kernel, schema=f"id {id_type}, s int, code int, sv array<double>"
    )


def train_pq(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
) -> list[list[list[float]]]:
    """-> codebooks[s][code] = centroid vector (python lists: m*k*dsub
    floats — codebook-sized, the object a search job broadcasts)."""
    base = (
        emb.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        )
        # CPU-bound argmin rounds below: key parallelism to cores, not to
        # the source's file count (the mention-kernel respread argument)
        .repartition(emb.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint()  # iterated; truncate lineage once
    )
    seeds = base.orderBy("id").limit(k).collect()  # k vectors: tiny
    if not seeds:
        raise ValueError("train_pq: empty embedding frame")
    if len(seeds) < k:
        raise ValueError(f"need >= k={k} vectors, got {len(seeds)}")
    # dim comes from the seeds already collected — a separate first()
    # action only to read the dimension was one more whole Spark job per
    # training call (r6: action-latency dominates this loop, guide §1.2).
    # Trade-off: a dim%m misconfiguration is now caught after the one
    # checkpoint pass instead of before it — the happy path saves a job
    # on EVERY call, the error path pays one extra pass once.
    dim = len(seeds[0]["v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = [
        [list(r["v"])[s * dsub : (s + 1) * dsub] for r in seeds]
        for s in range(m)
    ]
    id_type = base.schema["id"].dataType.simpleString()
    for _ in range(n_iter):
        assigned = _assign_frame(base, books, id_type)
        upd = (
            assigned.select("s", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("s", "code", "pos")
            .agg(F.round(F.avg("x"), 6).alias("mc"))
            .groupBy("s", "code")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "mc"))).alias("pm")
            )
            .select(
                "s", "code", F.transform("pm", lambda t: t["mc"]).alias("cvec")
            )
            .collect()  # m*k rows: codebook-sized
        )
        new = {(r["s"], r["code"]): list(r["cvec"]) for r in upd}
        books = [
            [new.get((s, c), books[s][c]) for c in range(k)] for s in range(m)
        ]
    return books


def pq_encode(
    emb: DataFrame,
    books: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """-> (id, codes array<int>): the compressed corpus — a pure map
    (respread across cores first: the per-row argmin kernel is CPU-bound,
    so parallelism must not inherit a small source file count)."""
    m = len(books)
    dim = m * len(books[0][0])
    emb = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
    id_type = emb.schema[id_col].dataType.simpleString()

    def kernel(batches):
        B = [np.asarray(b, dtype=np.float64) for b in books]
        for pdf in batches:
            V, null = vec.stack(pdf[vec_col], dim)
            codes = _codes_batch(V, B)
            codes[null] = 0  # invalid vectors get code 0 in every subspace
            yield pd.DataFrame(
                {"id": pdf[id_col].values, "codes": list(codes)}
            )

    return emb.select(id_col, vec_col).mapInPandas(
        kernel, schema=f"id {id_type}, codes array<int>"
    )


def pq_search(
    queries: DataFrame,
    codes: DataFrame,
    books: list[list[list[float]]],
    qid_col: str = "qid",
    qvec_col: str = "qv",
    topk: int = 3,
) -> DataFrame:
    """-> (qid, id, adist): top-k per query by ADC distance, rounded 6dp
    and ranked on the rounded value (ties -> lowest id). The per-(query,
    subspace, code) LUT is built ONCE and BROADCAST; the corpus code
    table is exploded, probed, and reduced by one combinable sum."""
    lut = _query_lut(queries, books, qid_col, qvec_col)
    probed = codes.select("id", F.posexplode("codes").alias("s", "code"))
    return _adc_topk(probed, lut, ["s", "code"], topk)


def ivfpq_search(
    queries: DataFrame,
    centroids: DataFrame,
    codes_with_cell: DataFrame,
    books: list[list[list[float]]],
    qid_col: str = "qid",
    qvec_col: str = "qv",
    nprobe: int = 2,
    topk: int = 3,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale serving layout — IVF routing
    prunes WHICH vectors a query considers, PQ codes shrink what each
    considered vector COSTS (ADC lookups; the raw corpus vectors are
    never read at query time).

    `codes_with_cell`: (id, cid, codes) — pq_encode joined to the IVF
    assignment once at INDEX time (in production it is stored partitioned
    by cid, so the cell prune below is partition pruning, not a join).
    -> (qid, id, adist) top-k per query over the probed cells, same
    ranking spec as pq_search. With nprobe >= n_centroids every cell is
    probed and the result equals pq_search exactly (contract q_ann_ivfpq
    hash-pins this against the same oracle family as q_ann_pq).

    Scale shape: routing = one window over queries x centroids (broadcast
    centroid side); the probed (qid, cid) list and the per-query LUT are
    both query-sized broadcasts — the LUT is built once per QUERY, not
    per probed cell — so the corpus-sized code table is never
    hash-shuffled; its only reduction is the per-(query, id) combinable
    sum over candidates, which is corpus/n_cells * nprobe per query."""
    q = queries.select(
        F.col(qid_col).alias("qid"), _as_double(F.col(qvec_col)).alias("qv")
    )
    probe = _nearest_cells(
        q.crossJoin(F.broadcast(centroids)), "cid", nprobe
    ).select("qid", "cid")
    lut = _query_lut(q, books, "qid", "qv")
    cand = codes_with_cell.join(F.broadcast(probe), "cid").select(
        "qid", "id", F.posexplode("codes").alias("s", "code")
    )
    return _adc_topk(cand, lut, ["qid", "s", "code"], topk)


def save_pq(store, books: list[list[list[float]]], codes: DataFrame,
            prefix: str = "pq") -> None:
    """Persist a PQ index as CheckpointStore stage tables: the codebook as
    (s, code, cvec) rows and the compressed corpus. Training is the
    expensive part; a search session reads one tiny table and the code
    column."""
    store.write(_book_df(codes.sparkSession, books), f"{prefix}_books")
    store.write(codes, f"{prefix}_codes")


def load_pq(spark, store, prefix: str = "pq"):
    """-> (books, codes) previously saved by save_pq; books come back as
    the nested-list codebook (codebook-sized driver round-trip)."""
    rows = store.read(spark, f"{prefix}_books").collect()
    m = 1 + max(r["s"] for r in rows)
    k = 1 + max(r["code"] for r in rows)
    books = [[None] * k for _ in range(m)]
    for r in rows:
        books[r["s"]][r["code"]] = list(r["cvec"])
    if any(v is None for row in books for v in row):
        raise ValueError("persisted PQ codebook has holes")
    return books, store.read(spark, f"{prefix}_codes")
