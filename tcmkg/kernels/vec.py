"""Vector-math kernels: the one implementation of vector stacking, cosine,
squared L2 and nearest-centroid that ANN (ops/ann.py), PQ (ops/pq.py) and
embedding similarity (ops/similarity.py) share.

Every accumulation loops the dims IN INDEX ORDER (vectorized across rows,
sequential across dims), starting from 0.0 and adding one product per dim:
the addition sequence of a SQL fold over the array and of the PQ oracle's
list sum. A BLAS matmul would instead round by its blocking, so the same
pair could score differently across batch sizes and flip a top-k tie.

Degenerate inputs follow one rule: a NULL vector, a NULL element, a length
mismatch or a zero norm has no cosine. The numpy functions return NaN for
it; the Spark wrappers return NULL (a NaN would sort ABOVE every double,
taking rank 1 in a `desc` top-k window).

Spark wrappers, one each:
  cosine_udf   row-wise cosine of two array columns (pandas UDF)
  assign       mapInPandas nearest-centroid column; the centroids ride in
               the kernel closure (no join, no Exchange)
Squared L2 needs no wrapper: its callers (PQ codes and query LUT) already
run inside their own mapInPandas kernels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stack(vs: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """pandas Series of array cells -> ((n, dim) float64, bool invalid
    mask). A cell is invalid when it is NULL, its length is not `dim`, or
    it holds a NULL/NaN element; its row is zero-filled."""
    bad = np.fromiter(
        (v is None or len(v) != dim for v in vs), dtype=bool, count=len(vs)
    )
    if not len(vs):
        return np.zeros((0, dim)), bad
    V = np.stack([np.zeros(dim) if b else v for v, b in zip(vs, bad)]).astype(np.float64)
    nan = np.isnan(V).any(axis=1)
    V[nan] = 0.0
    return V, bad | nan


def cosine(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Cosine over the last axis of two broadcast-compatible float64 arrays
    (A (n, 1, d) with B (1, k, d) gives the (n, k) matrix; two (n, d) give
    n row-wise values). Dot product and squared norms accumulate in index
    order; a zero norm yields NaN."""
    dot = np.zeros(np.broadcast_shapes(A.shape[:-1], B.shape[:-1]))
    na, nb = np.zeros(A.shape[:-1]), np.zeros(B.shape[:-1])
    for j in range(A.shape[-1]):
        a, b = A[..., j], B[..., j]
        dot += a * b
        na += a * a
        nb += b * b
    den = np.sqrt(na) * np.sqrt(nb)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den != 0.0, dot / den, np.nan)


def sq_l2(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Squared L2 distance over the last axis (same broadcasting as
    `cosine`), accumulated in index order."""
    d = np.zeros(np.broadcast_shapes(A.shape[:-1], B.shape[:-1]))
    for j in range(A.shape[-1]):
        t = A[..., j] - B[..., j]
        d += t * t
    return d


def nearest(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, d) vectors x (k, d) centroids -> (n,) index of the highest-
    cosine centroid. NaN loses, ties go to the lowest index, and a row
    whose every cosine is NaN (zero vector) goes to centroid 0."""
    S = cosine(V[:, None, :], C[None, :, :])
    return np.argmax(np.where(np.isnan(S), -np.inf, S), axis=1)


@F.pandas_udf(T.DoubleType())
def cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Row-wise cosine of two array columns; NULL where either side is
    invalid under `stack`, the lengths differ, or a norm is zero."""
    out = np.full(len(a), np.nan)  # Spark's Arrow writer masks NaN as NULL
    lens = a.map(lambda v: -1 if v is None else len(v)).to_numpy()
    for d in np.unique(lens[lens >= 0]):
        rows = lens == d
        A, bad_a = stack(a[rows], d)
        B, bad_b = stack(b[rows], d)
        out[rows] = np.where(bad_a | bad_b, np.nan, cosine(A, B))
    return pd.Series(out)


def assign(
    df: DataFrame, vec_col: str, cents, out_col: str, key_col: str | None = None
) -> DataFrame:
    """df + int `out_col`: the id of each row's `nearest` centroid, as one
    mapInPandas (a pure map).

    cents: [(id, vector), ...] in id order; or, with `key_col`,
    {key: [(id, vector), ...]} and each row picks among its key's
    centroids (the two-level IVF sub-assign). Rows whose key has no entry
    are dropped."""
    by_key = cents if key_col else {None: cents}
    tables = {
        k: (np.array([i for i, _ in c], dtype=np.int32),
            np.array([v for _, v in c], dtype=np.float64))
        for k, c in by_key.items()
    }

    def kernel(batches):
        for pdf in batches:
            if key_col:
                pdf = pdf[pdf[key_col].isin(list(tables))].reset_index(drop=True)
            out = np.zeros(len(pdf), dtype=np.int32)
            for k, (ids, C) in tables.items():
                rows = (pdf[key_col] == k).to_numpy() if key_col else slice(None)
                V, _ = stack(pdf[vec_col][rows], C.shape[1])
                out[rows] = ids[nearest(V, C)]
            yield pdf.assign(**{out_col: out})

    schema = T.StructType(df.schema.fields + [T.StructField(out_col, T.IntegerType())])
    return df.mapInPandas(kernel, schema=schema)
