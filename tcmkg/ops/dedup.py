"""Deduplication operators for web-scale corpora.

All hash choices are md5-based (stable across machines, engines, and
sessions — no seed, no PYTHONHASHSEED exposure), so every operator here is
deterministic and oracle-checkable.

  exact_dedup          content-hash groupBy; survivor = min id
  minhash_signatures   b-band MinHash over distinct tokens — pure JVM SQL
                       (explode + min(md5)), no Python
  lsh_candidate_pairs  docs sharing any band signature (the LSH bucket join)
  simhash              64-bit SimHash via a vectorized pandas UDF (bit-vote
                       accumulation is a numpy matmul per batch)
  simhash_candidates   banded SimHash bucket join (Hamming-adjacent docs
                       collide on at least one of 4 16-bit bands when
                       distance <= 3 of 64 bits is concentrated)
  jaccard_pairs        token-set Jaccard pair join with a document-frequency
                       token guard (stopword-like tokens create quadratic
                       hot keys; drop them from the token universe)
  shingle_jaccard_pairs char n-gram Jaccard (order-sensitive near-dup),
                       same DF guard over shingles

Hot-bucket guard (every candidate self-join here): one degenerate bucket —
empty docs, boilerplate, a shared template — makes a bucket self-join
quadratic at corpus scale. `max_bucket` caps it: bucket sizes come from a
map-side-combinable groupBy (the hot key itself never concentrates on one
task), the over-cap bucket list is small by construction (skew = few keys)
and anti-broadcast-joined away. Dropped buckets are NOT silent: the
`*_dropped_buckets` companions return exactly what was skipped so callers
can route oversize buckets through exact_dedup (identical docs) or emit the
drop metric.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _plan_width(plan) -> int:
    """Partitions a physical plan runs as, read off the plan without
    running it: the count the node declares (an exchange, a coalesce, a
    range); else a union's inputs summed, any other node's widest input (a
    broadcast side declares 1), and a leaf's own split count (a file scan's
    file splits, as the scan computes them at run time)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _plan_width(plan.executedPlan())
    if name == "InMemoryTableScan":  # building the cache's RDD would run its plan
        return _plan_width(plan.relation().cachedPlan())
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    kids = plan.children()
    if kids.isEmpty():
        rdd = plan.executeColumnar() if plan.supportsColumnar() else plan.execute()
        return rdd.getNumPartitions()
    widths = [_plan_width(kids.apply(i)) for i in range(kids.size())]
    return sum(widths) if name == "Union" else max(widths)


def _respread_by(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition onto the cluster when the source would run
    narrower than the core count — a single-file/single-row-group parquet
    scan is ONE map task, which serializes the CPU-heavy tokenize+hash
    projections of this module onto one core (guide §6: file layout
    dictates scan parallelism). Keyed by the aggregation id so the
    downstream groupBy(id) REUSES the exchange instead of adding one.
    No-op when the input is already at least core-parallel: at scale,
    many-file inputs arrive pre-split, and an unconditional pre-shuffle
    of raw text would be a regression (the post-aggregation shuffle rows
    are much smaller than the text). Results are unaffected — every
    consumer aggregates with order-free functions (min/count).

    The width comes from the physical plan (`_plan_width`), so deciding
    runs no job: materializing the input's RDD would run the stages
    upstream of any exchange under AQE. An input behind an exchange counts
    as its shuffle width, before AQE coalescing."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        n = _plan_width(df._jdf.queryExecution().executedPlan())
    except Exception:
        return df
    return df.repartition(par, F.col(key)) if n < par else df


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """-> (text_hash, n_docs, keep_doc): survivor = min id per content hash."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("_id"))
        .groupBy("text_hash")
        .agg(F.count("*").cast("long").alias("n_docs"), F.min("_id").alias("keep_doc"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_bands: int = 6,
    rows_per_band: int = 2,
) -> DataFrame:
    """-> (id, band, sig): MinHash-LSH band signatures over distinct tokens.

    Each band hashes `rows_per_band` (r) independent minhash rows together,
    so P(two docs share a band bucket) = J^r and the banded candidate
    probability follows the standard S-curve 1-(1-J^r)^b. r=1 keeps the
    pre-r4 semantics byte-for-byte (sig = min md5("band:tok")); r>1 sets
    sig = md5(min_0 || min_1 || ... || min_{r-1}) with per-row keying
    "band:row:tok".

    DEFAULT = b=6, r=2 — the measured scale-safe regime (S-curve midpoint
    (1/6)^(1/2) ~= 0.41 for a 0.5 Jaccard threshold). **r=1 is only safe
    for high-duplication or templated corpora**: with a single row per
    band, ANY token shared with a globally-small hash puts two docs in the
    same bucket (collision prob = J, not J^r), and on a realistic
    heavy-tailed vocabulary the bucket join goes quadratic — measured:
    500k random-ish docs with a 200k-token vocabulary produced 87M
    candidate pairs at r=1 vs 875k at b=6/r=2 with identical removals
    (tools/stress_dedup_5m.py, BENCH/BASELINE.md). Pick r>=2 and b via the
    S-curve midpoint (1/b)^(1/r) ~= your threshold for web-scale corpora;
    pass n_bands=4, rows_per_band=1 explicitly to reproduce the legacy
    single-row signatures.

    Plan: tokens are exploded ONCE and all b*r minima are computed as
    parallel map-side-combinable aggs of a single groupBy(id); the per-band
    signatures then posexplode from the aggregated row. (The previous plan
    multiplied token rows by n_bands BEFORE the shuffle — b*r times the
    shuffle volume for the same result.)
    """
    tok = _respread_by(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    )
    mins = [
        F.min(
            F.md5(
                F.concat(
                    F.lit(f"{b}:{r}:" if rows_per_band > 1 else f"{b}:"),
                    F.col("tok"),
                )
            )
        ).alias(f"_m_{b}_{r}")
        for b in range(n_bands)
        for r in range(rows_per_band)
    ]
    agged = tok.groupBy("id").agg(*mins)
    if rows_per_band == 1:
        band_sigs = [F.col(f"_m_{b}_0") for b in range(n_bands)]
    else:
        band_sigs = [
            F.md5(F.concat(*[F.col(f"_m_{b}_{r}") for r in range(rows_per_band)]))
            for b in range(n_bands)
        ]
    return agged.select(
        "id", F.posexplode(F.array(*band_sigs)).alias("band", "sig")
    )


def _oversize_buckets(rows: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """-> (keys..., n_docs) for buckets with more than `max_bucket` members.
    groupBy count is map-side combinable; the result is small (few hot keys)
    so callers can broadcast it."""
    return (
        rows.groupBy(*keys)
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket)
    )


def _cap_buckets(rows: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """Drop all rows of over-cap buckets via a broadcast anti-join."""
    if max_bucket is None:
        return rows
    hot = _oversize_buckets(rows, keys, max_bucket).select(*keys)
    return rows.join(F.broadcast(hot), keys, "left_anti")


def lsh_candidate_pairs(sigs: DataFrame, max_bucket: int | None = 256) -> DataFrame:
    """Docs sharing any (band, sig) bucket -> candidate near-dup pairs.
    The self-join is on the bucket key, so only same-bucket docs pair.

    Buckets larger than `max_bucket` are excluded (degenerate buckets go
    quadratic; at 100 TB one boilerplate signature would dominate the whole
    job). Inspect exclusions with lsh_dropped_buckets(sigs, max_bucket) —
    members of an oversize bucket are near-certain duplicates of each other
    and are better routed through exact_dedup / cluster-by-bucket directly
    than through a pair join."""
    capped = _cap_buckets(sigs, ["band", "sig"], max_bucket)
    a = capped.select("band", "sig", F.col("id").alias("a"))
    b = capped.select("band", "sig", F.col("id").alias("b"))
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )


def lsh_dropped_buckets(sigs: DataFrame, max_bucket: int = 256) -> DataFrame:
    """-> (band, sig, n_docs): the buckets lsh_candidate_pairs(max_bucket)
    skipped — the no-silent-caps metric."""
    return _oversize_buckets(sigs, ["band", "sig"], max_bucket)


def _simhash_batch(texts: pd.Series, bits: int = 64) -> pd.Series:
    """Bit votes as one numpy broadcast per doc (not a per-bit Python loop):
    unpack each token hash into a (n_tokens, bits) 0/1 matrix, vote with
    sum(2b-1), set bit where votes > 0. Identical output to the scalar
    formulation (oracle-hash-verified), ~6x faster."""
    out = np.zeros(len(texts), dtype=np.int64)
    shifts = np.arange(bits, dtype=np.uint64)
    # token-hash memo: corpora repeat tokens heavily, so md5 cost collapses
    # from sum(|tokens per doc|) to |vocabulary| per Arrow batch
    memo: dict[str, int] = {}

    def _h(tok: str) -> int:
        v = memo.get(tok)
        if v is None:
            v = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
            memo[tok] = v
        return v

    for i, t in enumerate(texts):
        toks = set((t or "").split(" "))
        h = np.fromiter((_h(tok) for tok in toks), dtype=np.uint64, count=len(toks))
        bitm = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        votes = (2 * bitm - 1).sum(axis=0)
        v = int((( votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
        # store as signed 64-bit
        out[i] = v - (1 << 64) if v >= (1 << 63) else v
    return pd.Series(out)


@F.pandas_udf(T.LongType())
def simhash(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """64-bit SimHash (vectorized per Arrow batch)."""
    for batch in texts:
        yield _simhash_batch(batch)


def _simhash_bands(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # NULL text carries no signal: drop it BEFORE signing. (Signing "" would
    # give NULL-text docs a shared signature and join them into buckets —
    # and diverge from the relational oracle, where string_split(NULL)
    # unnests to no vote rows at all.)
    sh = _respread_by(df.filter(F.col(text_col).isNotNull()), id_col).select(
        F.col(id_col).alias("id"), simhash(F.col(text_col)).alias("sh")
    )
    return sh.select(
        "id",
        "sh",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("band"),
    ).withColumn("bucket", F.expr("shiftrightunsigned(sh, band * 16) & 65535"))


def simhash_candidates(
    df: DataFrame, id_col: str, text_col: str, max_bucket: int | None = 256
) -> DataFrame:
    """Banded SimHash bucket join: 4 bands x 16 bits; docs agreeing on any
    band are candidates (catches Hamming distance <= 3 when spread across
    the other bands). Over-cap buckets are excluded (same degenerate-bucket
    guard as lsh_candidate_pairs); see simhash_dropped_buckets."""
    bands = _cap_buckets(
        _simhash_bands(df, id_col, text_col), ["band", "bucket"], max_bucket
    )
    a = bands.select("band", "bucket", F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    b = bands.select("band", "bucket", F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .dropDuplicates(["a", "b"])
    )
    return pairs


def simhash_dropped_buckets(
    df: DataFrame, id_col: str, text_col: str, max_bucket: int = 256
) -> DataFrame:
    """-> (band, bucket, n_docs) skipped by simhash_candidates(max_bucket)."""
    return _oversize_buckets(
        _simhash_bands(df, id_col, text_col), ["band", "bucket"], max_bucket
    )


def _jaccard_from_tokens(
    tok: DataFrame, threshold: float, max_df: int | None
) -> DataFrame:
    """(doc_id, tok) rows -> (doc_id, doc_b, jaccard) pairs >= threshold,
    with the DF guard applied to the shared token universe (both the
    intersection and the set sizes see the same reduced universe, so the
    measure stays a true Jaccard over informative tokens)."""
    tok = _cap_buckets(tok, ["tok"], max_df)
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("sz"))
    t2 = tok.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        tok.join(t2, "tok")
        .filter(F.col("doc_id") < F.col("doc_b"))
        .groupBy("doc_id", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sz_a = sizes.select("doc_id", F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "doc_id").join(sz_b, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id", "doc_b", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_df: int | None = 256,
) -> DataFrame:
    """Token-set Jaccard near-dup pairs with a document-frequency guard:
    tokens in more than `max_df` docs (stopword-like) never reach the
    self-join. Inspect exclusions with jaccard_dropped_tokens."""
    tok = _respread_by(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    )
    return _jaccard_from_tokens(tok, threshold, max_df)


def _shingles(text_col: str, n: int):
    """array<string>: distinct char n-grams of a text column (shared by
    shingle_jaccard_pairs and pair_jaccard's shingle mode — one definition,
    one semantics)."""
    text = F.col(text_col)
    n_sh = F.length(text) - n + 1
    idx = F.when(n_sh >= 1, F.sequence(F.lit(1), n_sh)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(F.transform(idx, lambda i: text.substr(i, F.lit(n))))


def shingle_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 256,
) -> DataFrame:
    """Character n-gram (shingle) Jaccard near-dup pairs: order-sensitive
    where token-set Jaccard is not (catches reordered boilerplate and
    near-verbatim passages). Shingles are generated with native sequence/
    transform (no Python), then routed through the same DF-guarded join as
    jaccard_pairs — a ubiquitous shingle is a quadratic hot key exactly
    like a stopword token."""
    tok = _respread_by(df, id_col).select(
        F.col(id_col).alias("doc_id"), F.explode(_shingles(text_col, n)).alias("tok")
    )
    return _jaccard_from_tokens(tok, threshold, max_df)


def pair_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    mode: str = "token",
    n: int = 3,
) -> DataFrame:
    """Set Jaccard for SPECIFIC (a, b) pairs — the verification step of a
    candidates→verify chain. Unlike jaccard_pairs (a token self-join that
    needs the DF guard), this attaches each doc's distinct-element array to
    the bounded candidate set with two equi-joins and scores per row with
    native array ops; the full element universe applies (no guard needed —
    nothing here is quadratic).

    mode='token' (whitespace tokens, order-insensitive) or 'shingle'
    (char n-grams — order-SENSITIVE, rejects reordered boilerplate that
    token sets cannot distinguish)."""
    if mode == "token":
        elems = F.array_distinct(F.split(F.col(text_col), " "))
    elif mode == "shingle":
        elems = _shingles(text_col, n)
    else:
        raise ValueError(f"unknown mode {mode!r} (token|shingle)")
    # the element-array projection is CPU-bound over the whole corpus;
    # spread it before the candidate joins (single-file scan = one task)
    toks = _respread_by(df, id_col).select(
        F.col(id_col).alias("_jid"), elems.alias("_toks")
    )
    out = (
        pairs.join(toks.withColumnRenamed("_jid", "a").withColumnRenamed("_toks", "ta"), "a")
        .join(toks.withColumnRenamed("_jid", "b").withColumnRenamed("_toks", "tb"), "b")
        .withColumn(
            # try_divide: two texts shorter than the shingle width have
            # EMPTY element sets -> 0/0 would be an ANSI-mode job abort;
            # NULL fails >= threshold, so un-judgeable pairs stay apart
            "jaccard",
            F.round(
                F.try_divide(
                    F.size(F.array_intersect("ta", "tb")),
                    F.size(F.array_union("ta", "tb")),
                ),
                6,
            ),
        )
    )
    return out.select("a", "b", "jaccard")


def near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 6,
    rows_per_band: int = 2,
    max_bucket: int = 256,
    threshold: float = 0.5,
    cc_max_iter: int = 25,
    verify: str = "token",
) -> dict[str, DataFrame]:
    """End-to-end near-duplicate deduplication — corpus in, deduplicated
    corpus + removal map + drop metrics out (the operator a training-data
    pipeline actually calls; composition analogous to the reference's
    union-find merge driver, merge_utility.py:166-231 as driven by
    extract_herb.py:410-446).

    Chain (every stage is the already-verified building block):
      1. minhash_signatures        pure-JVM band signatures
      2. lsh_candidate_pairs       bucket join, hot buckets capped
      3. pair_jaccard >= threshold verification on the bounded candidates
      4. oversize-bucket routing   members of dropped buckets are
                                   near-certain duplicates: route them
                                   through exact_dedup (identical text →
                                   certain, jaccard≡1.0) instead of a
                                   quadratic pair join
      5. connected components      transitive closure over verified + exact
                                   edges; survivor = min id per component

    Returns {"kept", "removals", "dropped_buckets", "metrics", "unpersist"}:
      kept            df minus removed docs
      removals        (removed_doc, keep_doc, via): via = 'near' (verified
                      candidate chain) or 'exact_hot_bucket' (identical-text
                      member of a capped bucket)
      dropped_buckets the lsh_dropped_buckets metric (no silent caps: a
                      hot-bucket doc whose text is NOT identical to another
                      member is conservatively KEPT and visible here)
      metrics         (metric, value) counts for lineage
      unpersist       callable releasing this call's cached signature table
                      once the outputs are materialized. The cache is OWNED
                      BY THIS RESULT (no process-global handle): concurrent
                      or interleaved near_dedup calls never release each
                      other's cache, and frames from this call stay cached
                      until the caller says otherwise.

    Scale shape: no all-pairs path — candidates are bucketed AND capped,
    verification touches only candidates, the exact route is a map-side-
    combinable hash groupBy, and CC is the checkpointed min-label
    propagation whose MIN aggregations neutralize hot keys. Defaults are
    the measured web-scale banding regime (b=6, r=2 — see
    minhash_signatures); pass n_bands=4, rows_per_band=1 for the legacy
    single-row regime (templated/high-duplication corpora only).
    """
    c = _dedup_chain(df, id_col, text_col, n_bands, max_bucket, threshold,
                     cc_max_iter, verify, rows_per_band=rows_per_band)
    kept = df.join(
        c["removals"].select(F.col("removed_doc").alias(id_col)), id_col, "left_anti"
    )
    metrics = (
        _count1("n_docs", df)
        .unionByName(_count1("n_candidate_pairs", c["pairs"]))
        .unionByName(_count1("n_verified_pairs", c["verified"]))
        .unionByName(_count1("n_dropped_buckets", c["dropped"]))
        .unionByName(_count1("n_hot_docs", c["hot_docs"]))
        .unionByName(_count1("n_removed", c["removals"]))
    )
    return {
        "kept": kept,
        "removals": c["removals"],
        "dropped_buckets": c["dropped"],
        "metrics": metrics,
        "unpersist": c["unpersist"],
    }


def _count1(name: str, d: DataFrame) -> DataFrame:
    return d.agg(F.count("*").cast("long").alias("value")).select(
        F.lit(name).alias("metric"), "value"
    )


def _dedup_chain(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int,
    max_bucket: int,
    threshold: float,
    cc_max_iter: int,
    verify: str,
    new_pred=None,
    sigs: DataFrame | None = None,
    rows_per_band: int = 1,
) -> dict[str, DataFrame]:
    """The candidates→verify→exact-route→CC core shared by near_dedup and
    near_dedup_incremental (one definition: a fix to via-labeling, the CC
    incidence key, or the hot route applies to both paths by construction).
    `new_pred(col_name) -> Column` is the incremental restriction: when
    given, only candidate pairs whose b side is new are verified, the
    exact route runs only for hot buckets that gained a new doc, and only
    new docs can be removed. `sigs` (id, band, sig), when given, replaces
    the in-chain minhash_signatures(corpus) computation — the persisted-
    index path for incremental runs.

    The signature table feeds several consumers (candidate pairs, dropped
    buckets, hot-doc routing): persist it so tokenize+explode+min-agg runs
    once. The handle is returned as `unpersist` in the result — each call
    owns its own cache (no process-global: interleaved chains from two
    pipelines or sessions must not release each other's cache)."""
    from ..pipeline.cc import connected_components_edges

    if sigs is None:
        sigs = minhash_signatures(corpus, id_col, text_col, n_bands, rows_per_band)
    sigs = sigs.persist()

    def _unpersist(_h=sigs):
        try:
            _h.unpersist()
        except Exception:
            pass  # handle may belong to a stopped SparkContext
    pairs = lsh_candidate_pairs(sigs, max_bucket)
    dropped = lsh_dropped_buckets(sigs, max_bucket)
    if new_pred is not None:
        pairs = pairs.filter(new_pred("b"))

    # verify='shingle' scores candidates on char n-grams instead of token
    # sets: order-sensitive, so reordered boilerplate no longer verifies
    verified = pair_jaccard(pairs, corpus, id_col, text_col, mode=verify).filter(
        F.col("jaccard") >= threshold
    )

    # oversize-bucket routing: identical-text members of capped buckets are
    # certain duplicates; dedup them by content hash (never a pair join)
    hot_members = sigs.join(
        F.broadcast(dropped.select("band", "sig")), ["band", "sig"], "left_semi"
    )
    if new_pred is not None:
        hot_keys = hot_members.filter(new_pred("id")).select("band", "sig").distinct()
        hot_members = sigs.join(F.broadcast(hot_keys), ["band", "sig"], "left_semi")
    hot_docs = hot_members.select(F.col("id").alias("hid")).distinct()
    hot_texts = corpus.select(
        F.col(id_col).alias("hid"), F.md5(F.col(text_col)).alias("th")
    ).join(hot_docs, "hid")
    exact_keep = hot_texts.groupBy("th").agg(F.min("hid").alias("keep"))
    exact_edges = (
        hot_texts.join(exact_keep, "th")
        .filter(F.col("hid") != F.col("keep"))
        .select(F.col("keep").alias("a"), F.col("hid").alias("b"))
    )
    if new_pred is not None:
        exact_edges = exact_edges.filter(new_pred("b"))

    # one CC over both edge kinds: components merge transitively even when a
    # doc is reachable through both routes, so survivors are consistent.
    # The union CARRIES the route tag and is checkpointed ONCE (r6): the
    # verify chain and the hot-route chain run as parallel branches of a
    # single job instead of two serial materializations, and both the CC
    # edge set and the via-labeling below (exact_removed) read the tagged
    # leaf — previously the hot-route chain executed twice (once into CC's
    # input, once for via). The edge list is O(verified + hot-bucket
    # duplicates) — tiny next to the corpus; the checkpointed partitions
    # are freed by the ContextCleaner when the result frame is dropped.
    edges = (
        verified.select("a", "b").withColumn("_via_exact", F.lit(False))
        .unionByName(exact_edges.withColumn("_via_exact", F.lit(True)))
        .localCheckpoint()
    )
    # Pair-edge CC (one join + one agg per propagation round; no pre-dedup
    # needed: CC's symmetrize step drops duplicates itself). `edges` is a
    # checkpoint leaf, which CC detects and so skips re-materializing its
    # input. cc_max_iter bounds propagation rounds at the component
    # DIAMETER; CC warns (no silent cap) if a pathological chain exceeds
    # it — raise cc_max_iter for long templated chains.
    comp = connected_components_edges(edges, max_iter=cc_max_iter)
    removals = comp.filter(F.col("node") != F.col("component"))
    if new_pred is not None:
        removals = removals.filter(new_pred("node"))
    removals = removals.select(
        F.col("node").alias("removed_doc"), F.col("component").alias("keep_doc")
    )
    exact_removed = (
        edges.filter(F.col("_via_exact"))
        .select(F.col("b").alias("removed_doc"))
        .distinct()
    )
    removals = removals.join(
        exact_removed.withColumn("_ex", F.lit(True)), "removed_doc", "left"
    ).select(
        "removed_doc",
        "keep_doc",
        F.when(F.col("_ex"), F.lit("exact_hot_bucket")).otherwise(F.lit("near")).alias("via"),
    )
    return {
        "pairs": pairs,
        "verified": verified,
        "dropped": dropped,
        "hot_docs": hot_docs,
        "removals": removals,
        "unpersist": _unpersist,
    }


def near_dedup_incremental(
    seen: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 6,
    rows_per_band: int = 2,
    max_bucket: int = 256,
    threshold: float = 0.5,
    cc_max_iter: int = 25,
    verify: str = "token",
    seen_sigs: DataFrame | None = None,
    seen_banding: tuple[int, int] | None = None,
) -> dict[str, DataFrame]:
    """Dedup NEW arrivals against an existing (already-deduped) corpus —
    the daily-crawl operator. Work is proportional to the new tranche, not
    the corpus: seen-vs-seen candidate pairs are filtered out BEFORE
    verification (the O(seen²) work a full re-run would redo), and the
    seen corpus is immutable — only new docs are ever removed.

    PRECONDITION (ValueError if violated): every seen id < every new id (monotone corpus
    ids — the standard ingestion layout). Min-id survivorship then keeps
    seen docs automatically, so "new doc duplicates corpus doc" resolves
    to the corpus doc without special-casing.

    `seen_sigs`: the PERSISTED signature index for the seen corpus —
    (id, band, sig) exactly as minhash_signatures(seen, ..., n_bands)
    emits (e.g. stored once via write_signature_index and read back each
    tranche). When given, the chain signs only the NEW tranche and unions
    it with the stored index, so at 10^12 seen docs the per-tranche cost
    is sign(new) + bucket join — the seen corpus text is scanned only to
    verify candidate pairs that involve it. When omitted, seen signatures
    are recomputed (self-contained mode); both shapes produce identical
    results (tested) and plan identically from the bucket join onward.

    BANDING MUST MATCH THE INDEX: seen signatures were minhashed with the
    index's (n_bands, rows_per_band); new-tranche signatures with this
    call's. A mismatch makes seen and new docs silently uncollidable
    across the boundary (every cross-boundary duplicate missed), so it is
    a ValueError, not a degradation. Pass `seen_banding=(n_bands,
    rows_per_band)` as recorded at index-build time (write_signature_index
    / read_signature_index persist it for you); without it, the band
    cardinality of seen_sigs is validated against n_bands — a real scan of
    the index's band column (map-side-combinable MIN/MAX, but still a
    scan; prefer seen_banding, which is free) that catches any n_bands
    mismatch. A rows_per_band mismatch at EQUAL n_bands is undetectable
    from the index alone — the one hole seen_banding exists to close.

    -> {"kept_new", "removals" (removed_doc, keep_doc, via), "metrics",
    "unpersist" (releases this call's cached signature table)}."""
    bounds = (
        seen.agg(F.max(F.col(id_col)).alias("mx"))
        .crossJoin(new.agg(F.min(F.col(id_col)).alias("mn")))
        .collect()[0]
    )
    mn = bounds["mn"]
    if bounds["mx"] is not None and mn is not None and not bounds["mx"] < mn:
        # ValueError, not assert: spark-submit prod jobs often run python -O,
        # which strips asserts — a silent misclassification here would emit
        # "immutable" corpus docs as removed
        raise ValueError(
            "near_dedup_incremental requires max(seen id) < min(new id) "
            f"(got {bounds['mx']!r} >= {mn!r})"
        )
    if mn is None:
        # no arrivals: nothing kept, nothing removed, zero metrics
        id_type = dict(new.dtypes)[id_col]
        empty_rm = new.sparkSession.createDataFrame(
            [], f"removed_doc {id_type}, keep_doc {id_type}, via string"
        )
        zeros = new.sparkSession.createDataFrame(
            [(m, 0) for m in ("n_new", "n_candidate_pairs", "n_verified_pairs",
                              "n_dropped_buckets", "n_removed")],
            "metric string, value long",
        )
        return {"kept_new": new, "removals": empty_rm, "metrics": zeros,
                "unpersist": lambda: None}

    union = seen.select(F.col(id_col), F.col(text_col)).unionByName(
        new.select(F.col(id_col), F.col(text_col))
    )
    sigs = None
    if seen_sigs is not None:
        if seen_banding is not None:
            if tuple(seen_banding) != (n_bands, rows_per_band):
                raise ValueError(
                    "seen_sigs index banding "
                    f"{tuple(seen_banding)!r} != this call's "
                    f"({n_bands}, {rows_per_band}): cross-boundary "
                    "duplicates would be silently missed. Re-sign the "
                    "index or call with the index's banding."
                )
        else:
            # no recorded banding: validate band cardinality directly.
            # Bands are 0..n_bands-1 by construction, so MIN/MAX (both
            # map-side combinable) pin n_bands exactly.
            br = seen_sigs.agg(
                F.min("band").alias("lo"), F.max("band").alias("hi")
            ).collect()[0]
            if br["hi"] is not None and (br["lo"], br["hi"]) != (0, n_bands - 1):
                raise ValueError(
                    f"seen_sigs index has bands {br['lo']}..{br['hi']} but "
                    f"this call expects 0..{n_bands - 1}: banding mismatch "
                    "(cross-boundary duplicates would be silently missed)."
                )
        # persisted-index path: sign only the new tranche; the stored seen
        # index (computed once, at ingestion) joins it by unionByName
        sigs = seen_sigs.select("id", "band", "sig").unionByName(
            minhash_signatures(new, id_col, text_col, n_bands, rows_per_band)
        )
    # the monotone-id precondition makes "is new" a LITERAL comparison
    # (id >= min new id) — no join, no broadcast of a possibly-billion-row
    # arrival id set; the predicate rides inside the shared chain's plans
    c = _dedup_chain(
        union, id_col, text_col, n_bands, max_bucket, threshold,
        cc_max_iter, verify, new_pred=lambda col: F.col(col) >= F.lit(mn),
        sigs=sigs, rows_per_band=rows_per_band,
    )
    kept_new = new.join(
        c["removals"].select(F.col("removed_doc").alias(id_col)), id_col, "left_anti"
    )
    metrics = (
        _count1("n_new", new)
        .unionByName(_count1("n_candidate_pairs", c["pairs"]))
        .unionByName(_count1("n_verified_pairs", c["verified"]))
        .unionByName(_count1("n_dropped_buckets", c["dropped"]))
        .unionByName(_count1("n_removed", c["removals"]))
    )
    return {"kept_new": kept_new, "removals": c["removals"], "metrics": metrics,
            "unpersist": c["unpersist"]}


def write_signature_index(
    store,
    df: DataFrame,
    stage: str,
    id_col: str,
    text_col: str,
    n_bands: int = 6,
    rows_per_band: int = 2,
) -> None:
    """Sign `df` and persist the (id, band, sig) index to a CheckpointStore
    stage WITH its banding recorded in the store manifest — the
    ingestion-time half of the incremental near-dedup contract. Pair with
    read_signature_index, whose returned banding feeds
    near_dedup_incremental(seen_sigs=..., seen_banding=...) so a banding
    mismatch between index and tranche is a hard error instead of silently
    missed cross-boundary duplicates."""
    sigs = minhash_signatures(df, id_col, text_col, n_bands, rows_per_band)
    store.write(
        sigs, stage, meta={"n_bands": n_bands, "rows_per_band": rows_per_band}
    )


def read_signature_index(store, spark, stage) -> tuple[DataFrame, tuple[int, int] | None]:
    """-> (sigs, (n_bands, rows_per_band) | None): the persisted signature
    index plus the banding it was built with (None for indexes written
    before banding was recorded — near_dedup_incremental then falls back
    to the band-cardinality scan)."""
    sigs = store.read(spark, stage)
    m = store.manifest.get(stage, {})
    banding = None
    if "n_bands" in m and "rows_per_band" in m:
        banding = (int(m["n_bands"]), int(m["rows_per_band"]))
    return sigs, banding


def jaccard_dropped_tokens(
    df: DataFrame, id_col: str, text_col: str, max_df: int = 256
) -> DataFrame:
    """-> (tok, n_docs): tokens jaccard_pairs(max_df) removed."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    )
    return _oversize_buckets(tok, ["tok"], max_df)
