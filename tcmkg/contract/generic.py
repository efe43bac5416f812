"""Generic operator queries (SURVEY.md §2 inventory + training-data ops)
over the driver's TPC-H-ish tables, each with an exact DuckDB oracle.

Coverage map (operator ids from SURVEY.md §2):
  q_tpch_q1            A4-style multi-agg groupBy (flagship scan+agg shape)
  q_group_merge_fold   A1/A2: per-key fold with sorted set-union of values
  q_outer_join_align   J1: multi-source full-outer alignment
  q_dim_join_revenue   J3: broadcast dimension join
  q_antisymmetry       J7/A9: drop pairs whose reverse edge exists
  q_semi_anti          semi/anti-join set guards
  q_degree_cap         A5: groupBy count + threshold filter
  q_xref_parse         P7: id extraction from encoded string columns
  q_topk_per_group     window + row_number (§2.5)
  q_sessionize         window lag + gap cumsum (sessionization)
  q_dedup_exact        exact dedup via content hash (training-data op)
  q_text_stats         token counting / quality stats (training-data op)
  q_stopword_ratio     language-ID heuristic (training-data op)
  q_minhash_sigs       MinHash band signatures, md5-based (near-dup path)
  q_minhash_clusters   LSH bucket clusters (signature-identical docs)
  q_jaccard_pairs      token Jaccard near-dup pair join (DF-guarded tokens)
  q_lsh_pairs          LSH candidate pairs with the hot-bucket cap live
  q_lsh_dropped        buckets the cap excluded (no-silent-caps metric)
  q_simhash_pairs      banded-SimHash candidates with the bucket cap live
  q_near_dedup         composed end-to-end near-dup dedup (candidates →
                       verify → exact hot-bucket routing → CC → survivor)
  q_near_dedup_inc     incremental near-dedup: arrivals vs immutable seen
                       corpus, work ∝ tranche (b-side-new restriction)
  q_literal_dict       P6 Python-literal dict parse -> xref/property columns
  q_fingerprints       winnowed k-gram document fingerprints (MOSS scheme)
  q_token_quality      whitespace + BPE-ish regex token counts, punct ratio
  q_cos_neardup        embedding-cosine near-dup pairs (exact baseline)
  q_split              deterministic hash train/val/test split
  q_prepare_corpus     capstone: quality → near-dedup → split → pack,
                       full four-stage pipeline vs one replayed oracle
  q_quality_filter     composed corpus-hygiene filter (reason precedence)
  q_repetition         Gopher repetition signals (13 fracs) + first-rule
                       removal reason, planted per doc_id%7
  q_pii                PII counts + redaction (md5-pinned), Java∩RE2 regex
  q_prepare_full       six-stage capstone incl. repetition + PII scrub
  q_ann_pq             product quantization train/encode/ADC-search vs an
                       unrolled-Lloyd oracle (training inside the hash)
  q_ann_ivfpq          IVF-PQ full-probe == pure PQ (routing no-op gate)
  q_pack_sequences     bins -> EOS-joined training sequences (md5-pinned)
  q_stratified_sample  deterministic per-stratum hash sampling
  q_pack_bins          sequence packing into token-budget bins
  q_shingle_jaccard    char n-gram (shingle) Jaccard near-dup pairs
  q_lang_id            script-profile language ID (zh / en / mixed)
  q_multimodal         multimodal decode plumbing vs driver-side codec oracle
  q_merge_tolerance    A2 rel-tol agreement per group (data, not a crash)
  q_stable_rank        W2 two-pass ranking == naive global row_number
  q_ann_topk           brute-force cosine top-k neighbors (ANN baseline)
  q_embed_centroids    per-label centroid (vector agg via posexplode)
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

# ONE stopword source: the product list lives in ops.quality; the oracles
# below are built from the same object, so tuning it cannot silently
# diverge the Spark side from the SQL side
from ..ops.quality import DEFAULT_CJK_STOPCHARS  # noqa: E402
from ..ops.quality import DEFAULT_STOPWORDS as STOPWORDS  # noqa: E402


def _read(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------- scans/agg -
def q_tpch_q1(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_group_merge_fold(spark, sf_dir):
    """A1/A2 merge semantics: fold a group into one row — sorted distinct
    `;`-join for strings (merge_utility.py:131-138 set-union), sum/first for
    numerics."""
    o = _read(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ";").alias("statuses"),
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ";").alias("priorities"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        F.count("*").cast("long").alias("n_orders"),
    )


SQL_GROUP_MERGE_FOLD = """
SELECT o_custkey,
       string_agg(DISTINCT o_orderstatus, ';' ORDER BY o_orderstatus) AS statuses,
       string_agg(DISTINCT o_orderpriority, ';' ORDER BY o_orderpriority) AS priorities,
       round(sum(o_totalprice), 4) AS total_price,
       count(*)::BIGINT AS n_orders
FROM orders GROUP BY o_custkey
"""


def q_outer_join_align(spark, sf_dir):
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return j.agg(
        F.count(F.when(F.col("c_custkey").isNotNull() & F.col("o_orderkey").isNotNull(), 1))
        .cast("long").alias("n_matched"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).cast("long").alias("n_cust_only"),
        F.count(F.when(F.col("c_custkey").isNull(), 1)).cast("long").alias("n_order_only"),
    )


SQL_OUTER_JOIN_ALIGN = """
SELECT count(CASE WHEN c_custkey IS NOT NULL AND o_orderkey IS NOT NULL THEN 1 END)::BIGINT AS n_matched,
       count(CASE WHEN o_orderkey IS NULL THEN 1 END)::BIGINT AS n_cust_only,
       count(CASE WHEN c_custkey IS NULL THEN 1 END)::BIGINT AS n_order_only
FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
"""


def q_dim_join_revenue(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
    )


SQL_DIM_JOIN_REVENUE = """
SELECT p_brand, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# ------------------------------------------------------------- edge algebra -
def q_antisymmetry(spark, sf_dir):
    """J7: directed pairs whose reverse also exists are dropped (both
    directions), reproducing calulate_reverse_relation semantics
    (merge_utility.py:11-34)."""
    li = _read(spark, sf_dir, "lineitem")
    pairs = (
        li.select(
            (F.col("l_partkey") % 400).alias("a"), (F.col("l_suppkey") % 400).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    rev = pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    return pairs.join(rev, ["a", "b"], "left_anti")


SQL_ANTISYMMETRY = """
WITH pairs AS (
  SELECT DISTINCT l_partkey % 400 AS a, l_suppkey % 400 AS b
  FROM lineitem WHERE l_partkey % 400 <> l_suppkey % 400
)
SELECT p.a, p.b FROM pairs p
WHERE NOT EXISTS (SELECT 1 FROM pairs r WHERE r.a = p.b AND r.b = p.a)
"""


def q_two_hop(spark, sf_dir):
    """Obj-direction traversal: 2-hop paths a→via→b over a directed edge
    set, aggregated per endpoint pair (the forward+reverse edge walk of
    merge_utility.py:11-34 as a join). At scale this join runs bucket-local
    over the subj- and obj-bucketed copies materialize_graph writes (zero
    data exchanges — asserted in tests/test_round3.py); the contract query
    uses the same plain-join semantics the oracle can replay."""
    li = _read(spark, sf_dir, "lineitem")
    pairs = (
        li.select(
            (F.col("l_partkey") % 400).alias("a"), (F.col("l_suppkey") % 400).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    hop1 = pairs.filter(F.col("a") < 50).select("a", F.col("b").alias("via"))
    hop2 = pairs.select(F.col("a").alias("via"), F.col("b").alias("c"))
    return (
        hop1.join(hop2, "via")
        .groupBy("a", "c")
        .agg(F.count("*").cast("long").alias("n_paths"), F.min("via").alias("min_via"))
    )


SQL_TWO_HOP = """
WITH pairs AS (
  SELECT DISTINCT l_partkey % 400 AS a, l_suppkey % 400 AS b
  FROM lineitem WHERE l_partkey % 400 <> l_suppkey % 400
)
SELECT p1.a, p2.b AS c, count(*)::BIGINT AS n_paths, min(p1.b) AS min_via
FROM pairs p1 JOIN pairs p2 ON p1.b = p2.a
WHERE p1.a < 50
GROUP BY p1.a, p2.b
"""


def q_semi_anti(spark, sf_dir):
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        with_orders.groupBy("c_mktsegment").agg(F.count("*").cast("long").alias("n"))
        .withColumn("kind", F.lit("with_orders"))
        .unionByName(
            without.groupBy("c_mktsegment").agg(F.count("*").cast("long").alias("n"))
            .withColumn("kind", F.lit("no_orders"))
        )
    )


SQL_SEMI_ANTI = """
SELECT c_mktsegment, count(*)::BIGINT AS n, 'with_orders' AS kind FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY c_mktsegment
UNION ALL
SELECT c_mktsegment, count(*)::BIGINT AS n, 'no_orders' AS kind FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY c_mktsegment
"""


def q_degree_cap(spark, sf_dir):
    """A5: drop keys with degree >= cap (merge_tcm_symptom.py:289-294 shape)."""
    o = _read(spark, sf_dir, "orders")
    deg = o.groupBy("o_custkey").agg(F.count("*").cast("long").alias("n_orders"))
    return deg.filter(F.col("n_orders") < 5)


SQL_DEGREE_CAP = """
SELECT o_custkey, count(*)::BIGINT AS n_orders FROM orders
GROUP BY o_custkey HAVING count(*) < 5
"""


def q_xref_parse(spark, sf_dir):
    """P7: extract ids out of an encoded string column and re-aggregate."""
    ev = _read(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long")
    return (
        ev.select((k % 10).alias("k_bucket"))
        .groupBy("k_bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )


SQL_XREF_PARSE = """
SELECT (regexp_extract(props, '"k":\\s*(\\d+)', 1)::BIGINT) % 10 AS k_bucket,
       count(*)::BIGINT AS n
FROM events GROUP BY 1
"""


# ----------------------------------------------------------------- windows -
def q_topk_per_group(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", F.col("rk").cast("long").alias("rk"), "o_orderkey")
    )


SQL_TOPK_PER_GROUP = """
SELECT o_custkey, rk::BIGINT AS rk, o_orderkey FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3
"""


def q_sessionize(spark, sf_dir):
    """Sessionization: 30-minute inactivity gap splits sessions."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_micros(F.col("ts").cast("timestamp"))  # NTZ; diffs cancel tz
    gap = ep - F.lag(ep).over(w)
    df = ev.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    df = df.withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return df.groupBy("user_id").agg(
        F.max("sess_id").cast("long").alias("n_sessions"),
        F.count("*").cast("long").alias("n_events"),
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30*60*1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, sum(new_sess)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events
FROM g GROUP BY user_id
"""


def q_pivot_status(spark, sf_dir):
    """Pivot: order counts per customer-segment x order-status."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey)
    return (
        j.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "c_mktsegment",
            F.coalesce("O", F.lit(0)).cast("long").alias("n_open"),
            F.coalesce("F", F.lit(0)).cast("long").alias("n_filled"),
            F.coalesce("P", F.lit(0)).cast("long").alias("n_partial"),
        )
    )


SQL_PIVOT_STATUS = """
SELECT c_mktsegment,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END)::BIGINT AS n_open,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END)::BIGINT AS n_filled,
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END)::BIGINT AS n_partial
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
"""


def q_rollup_revenue(spark, sf_dir):
    """Rollup: revenue at (flag,status), (flag), and grand-total levels."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").cast("long").alias("n"),
        )
    )


SQL_ROLLUP_REVENUE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*)::BIGINT AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# ------------------------------------------------------- training-data ops -
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: content-hash groups with canonical survivor."""
    d = _read(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count("*").cast("long").alias("n_docs"), F.min("doc_id").alias("keep_doc"))
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_docs, min(doc_id) AS keep_doc
FROM documents GROUP BY 1
"""


def q_text_stats(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("len_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )


SQL_TEXT_STATS = """
SELECT doc_id, length(text)::BIGINT AS len_chars,
       len(string_split(text, ' '))::BIGINT AS n_tokens,
       len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct
FROM documents
"""


def q_stopword_ratio(spark, sf_dir):
    """Language-ID heuristic: stopword token ratio."""
    d = _read(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stops = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stops, x)))
    ratio = F.round(n_stop / F.size(toks), 6)
    return d.select(
        "doc_id",
        ratio.alias("stop_ratio"),
        (ratio > 0.05).alias("looks_en"),
    )


_sw = ",".join(f"'{s}'" for s in STOPWORDS)
SQL_STOPWORD_RATIO = f"""
SELECT doc_id,
       round(len(list_filter(string_split(text,' '), x -> x IN ({_sw})))::DOUBLE
             / len(string_split(text,' ')), 6) AS stop_ratio,
       (round(len(list_filter(string_split(text,' '), x -> x IN ({_sw})))::DOUBLE
             / len(string_split(text,' ')), 6) > 0.05) AS looks_en
FROM documents
"""


def q_minhash_sigs(spark, sf_dir):
    """MinHash signatures: 4 md5-keyed hash bands over distinct tokens.
    Deterministic and engine-agnostic (md5 text hex both sides)."""
    d = _read(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
    bands = tok.select(
        "doc_id", F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("band"), "tok"
    )
    return (
        bands.withColumn("h", F.md5(F.concat(F.col("band").cast("string"), F.lit(":"), F.col("tok"))))
        .groupBy("doc_id", "band")
        .agg(F.min("h").alias("sig"))
        .select("doc_id", F.col("band").cast("long").alias("band"), "sig")
    )


SQL_MINHASH_SIGS = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents
),
bands AS (
  SELECT doc_id, band, tok FROM tok, (SELECT unnest([0,1,2,3]) AS band)
)
SELECT doc_id, band::BIGINT AS band, min(md5(band::VARCHAR || ':' || tok)) AS sig
FROM bands GROUP BY doc_id, band
"""


def q_minhash_clusters(spark, sf_dir):
    """LSH buckets: docs sharing the full 4-band signature."""
    sigs = q_minhash_sigs(spark, sf_dir)
    key = (
        sigs.groupBy("doc_id")
        .agg(F.array_join(F.array_sort(F.collect_list(F.concat_ws("=", F.col("band").cast("string"), "sig"))), "|").alias("sig_key"))
    )
    return key.groupBy("sig_key").agg(
        F.count("*").cast("long").alias("n_docs"), F.min("doc_id").alias("keep_doc")
    ).filter(F.col("n_docs") > 1)


SQL_MINHASH_CLUSTERS = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents
),
bands AS (SELECT doc_id, band, tok FROM tok, (SELECT unnest([0,1,2,3]) AS band)),
sigs AS (
  SELECT doc_id, band, min(md5(band::VARCHAR || ':' || tok)) AS sig
  FROM bands GROUP BY doc_id, band
),
keys AS (
  SELECT doc_id,
         list_aggregate(list_sort(list(band::VARCHAR || '=' || sig)), 'string_agg', '|') AS sig_key
  FROM sigs GROUP BY doc_id
)
SELECT sig_key, count(*)::BIGINT AS n_docs, min(doc_id) AS keep_doc
FROM keys GROUP BY sig_key HAVING count(*) > 1
"""


JACCARD_MAX_DF = 60


def q_jaccard_pairs(spark, sf_dir):
    """Token-set Jaccard near-dup pairs with the document-frequency guard:
    tokens in more than JACCARD_MAX_DF docs are dropped from the token
    universe before the self-join (a stopword-like token is a quadratic hot
    key at corpus scale). The %7 id filter bounds the fixture; the DF guard
    bounds the pattern."""
    from ..ops.dedup import jaccard_pairs

    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    return jaccard_pairs(d, "doc_id", "text", threshold=0.5, max_df=JACCARD_MAX_DF)


SQL_JACCARD_PAIRS = f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
tok0 AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM d),
hot AS (SELECT tok FROM tok0 GROUP BY tok HAVING count(*) > {JACCARD_MAX_DF}),
tok AS (SELECT * FROM tok0 WHERE tok NOT IN (SELECT tok FROM hot)),
sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS doc_b, count(*) AS i
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_id, i.doc_b,
       round(i.i / (sa.sz + sb.sz - i.i), 6) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_id
             JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.i / (sa.sz + sb.sz - i.i), 6) >= 0.5
"""


LSH_MAX_BUCKET = 50


def q_lsh_pairs(spark, sf_dir):
    """LSH candidate pairs with the hot-bucket cap live: buckets over
    LSH_MAX_BUCKET members are excluded from the pair join (the degenerate-
    bucket guard). q_lsh_dropped hash-verifies exactly what was excluded.
    Banding is PINNED to the r=1 single-row regime: the mechanism under
    test here is the cap (regime-independent), and r=1 is what keeps the
    small fixture's buckets hot enough to trip it. The library DEFAULT
    (b=6, r=2) is exercised end-to-end by q_near_dedup/_inc/_sigs."""
    from ..ops.dedup import lsh_candidate_pairs, minhash_signatures

    d = _read(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "doc_id", "text", n_bands=4, rows_per_band=1)
    return lsh_candidate_pairs(sigs, max_bucket=LSH_MAX_BUCKET).select(
        F.col("a").alias("a"), F.col("b").alias("b")
    )


_SQL_MINHASH_SIGS_CTE = """
tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents
),
bands AS (SELECT doc_id, band, tok FROM tok, (SELECT unnest([0,1,2,3]) AS band)),
sigs AS (
  SELECT doc_id, band, min(md5(band::VARCHAR || ':' || tok)) AS sig
  FROM bands GROUP BY doc_id, band
)
"""

SQL_LSH_PAIRS = f"""
WITH {_SQL_MINHASH_SIGS_CTE},
hot AS (SELECT band, sig FROM sigs GROUP BY band, sig HAVING count(*) > {LSH_MAX_BUCKET}),
kept AS (SELECT * FROM sigs ANTI JOIN hot USING (band, sig))
SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
FROM kept a JOIN kept b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""


def q_lsh_dropped(spark, sf_dir):
    """The no-silent-caps metric: exactly the buckets q_lsh_pairs skipped
    (same pinned r=1 banding — see q_lsh_pairs)."""
    from ..ops.dedup import lsh_dropped_buckets, minhash_signatures

    d = _read(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "doc_id", "text", n_bands=4, rows_per_band=1)
    return lsh_dropped_buckets(sigs, max_bucket=LSH_MAX_BUCKET).select(
        F.col("band").cast("long").alias("band"), "sig", "n_docs"
    )


SQL_LSH_DROPPED = f"""
WITH {_SQL_MINHASH_SIGS_CTE}
SELECT band::BIGINT AS band, sig, count(*)::BIGINT AS n_docs
FROM sigs GROUP BY band, sig HAVING count(*) > {LSH_MAX_BUCKET}
"""


SIMHASH_MAX_BUCKET = 20


def q_simhash_pairs(spark, sf_dir):
    """Banded-SimHash candidate pairs with the bucket cap live. The DuckDB
    oracle rebuilds the simhash bit votes relationally AND replays the band
    bucketing + cap + Hamming distance, so the whole guarded path is
    hash-verified."""
    from ..ops.dedup import simhash_candidates

    d = _read(spark, sf_dir, "documents")
    return simhash_candidates(
        d, "doc_id", "text", max_bucket=SIMHASH_MAX_BUCKET
    ).select("a", "b", F.col("hamming").cast("long").alias("hamming"))


SQL_SIMHASH_PAIRS = f"""
WITH tok AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents)
),
votes AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM tok, (SELECT unnest(generate_series(0, 63)) AS bit) b
  GROUP BY doc_id, b.bit
),
u AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END)::UBIGINT AS u
  FROM votes GROUP BY doc_id
),
bands AS (
  SELECT doc_id, band, (u >> (band * 16)) & 65535 AS bucket, u
  FROM u, (SELECT unnest([0,1,2,3]) AS band)
),
hot AS (SELECT band, bucket FROM bands GROUP BY band, bucket
        HAVING count(*) > {SIMHASH_MAX_BUCKET}),
kept AS (SELECT * FROM bands ANTI JOIN hot USING (band, bucket))
SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
       bit_count(xor(a.u, b.u))::BIGINT AS hamming
FROM kept a JOIN kept b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def q_near_dedup(spark, sf_dir):
    """END-TO-END near-dup dedup (the composed operator a training-data
    pipeline calls): minhash → capped LSH candidates → per-pair Jaccard
    verify → oversize-bucket exact routing → connected components → min-id
    survivor. Runs at the LIBRARY DEFAULTS — since r5 that is the
    web-scale b=6/r=2 banding regime (P(bucket|J) = 1-(1-J^2)^6), so this
    query is the hash gate that the defaults a user actually gets are
    correct. The DuckDB oracle replays the ENTIRE chain including the
    two-row band signatures and the transitive closure (recursive CTE),
    so composition — not just the stages — is hash-verified."""
    from ..ops.dedup import near_dedup

    d = _read(spark, sf_dir, "documents")
    out = near_dedup(
        d, "doc_id", "text", max_bucket=LSH_MAX_BUCKET, threshold=0.5
    )
    return out["removals"].select("removed_doc", "keep_doc", "via")


_NEAR_DEDUP_TAIL = f"""hot AS (SELECT band, sig FROM sigs GROUP BY band, sig HAVING count(*) > {LSH_MAX_BUCKET}),
kept AS (SELECT * FROM sigs ANTI JOIN hot USING (band, sig)),
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM kept a JOIN kept b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
dtok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
ver AS (
  SELECT c.a, c.b FROM cand c
  JOIN dtok ta ON ta.doc_id = c.a
  JOIN dtok tb ON tb.doc_id = c.b
  WHERE round(len(list_intersect(ta.toks, tb.toks))::DOUBLE
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 6) >= 0.5
),
hotdocs AS (SELECT DISTINCT doc_id FROM sigs SEMI JOIN hot USING (band, sig)),
hx AS (SELECT d.doc_id, md5(d.text) AS th FROM documents d SEMI JOIN hotdocs USING (doc_id)),
ekeep AS (SELECT th, min(doc_id) AS keep FROM hx GROUP BY th),
eedges AS (
  SELECT k.keep AS a, h.doc_id AS b FROM hx h JOIN ekeep k USING (th)
  WHERE h.doc_id <> k.keep
),
edges AS (SELECT a, b FROM ver UNION SELECT a, b FROM eedges),
und AS (SELECT a AS x, b AS y FROM edges UNION SELECT b AS x, a AS y FROM edges),
nodes AS (SELECT DISTINCT x AS n FROM und),
reach AS (
  SELECT n AS src, n AS dst FROM nodes
  UNION
  SELECT r.src, u.y FROM reach r JOIN und u ON r.dst = u.x
),
comp AS (SELECT src AS node, min(dst) AS comp FROM reach GROUP BY src)
SELECT node AS removed_doc, comp AS keep_doc,
       CASE WHEN node IN (SELECT DISTINCT b FROM eedges)
            THEN 'exact_hot_bucket' ELSE 'near' END AS via
FROM comp WHERE node <> comp
"""


def _sql_minhash_sigs_cte_r(
    n_bands: int, rows_per_band: int, src: str = "documents"
) -> str:
    """DuckDB CTE for multi-row-band MinHash signatures (mirrors
    minhash_signatures(rows_per_band=r): per-(band,row) keyed md5 minima,
    band sig = md5 of the row minima concatenated). `src` is the table or
    CTE holding (doc_id, text)."""
    mins = ",\n         ".join(
        f"min(md5('{b}:{r}:' || tok)) AS m_{b}_{r}"
        for b in range(n_bands) for r in range(rows_per_band)
    )
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5({' || '.join(f'm_{b}_{r}' for r in range(rows_per_band))}) AS sig "
        f"FROM mins"
        for b in range(n_bands)
    )
    return f"""tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM {src}
),
mins AS (
  SELECT doc_id, {mins}
  FROM tok GROUP BY doc_id
),
sigs AS (
  {band_rows}
)"""


SQL_NEAR_DEDUP = f"""
WITH RECURSIVE {_sql_minhash_sigs_cte_r(6, 2)},
{_NEAR_DEDUP_TAIL}"""

SQL_NEAR_DEDUP_R1 = f"""
WITH RECURSIVE {_SQL_MINHASH_SIGS_CTE},
{_NEAR_DEDUP_TAIL}"""


def q_near_dedup_r1(spark, sf_dir):
    """near_dedup PINNED to the legacy single-row banding regime (b=4,
    r=1) — collision probability J, not J^r, so only safe on templated /
    high-duplication corpora (measured 87M candidate pairs over 500k
    realistic-vocabulary docs at r=1 vs 875k at the b=6/r=2 default,
    BENCH/BASELINE.md §5M). Kept hash-verified because r=1 remains a
    supported explicit regime (and the q_lsh_pairs cap queries depend on
    its semantics); the DEFAULT regime is gated by q_near_dedup.
    [r5: this query replaces q_near_dedup_r2 — r2 IS now the default.]"""
    from ..ops.dedup import near_dedup

    d = _read(spark, sf_dir, "documents")
    out = near_dedup(
        d, "doc_id", "text", n_bands=4, rows_per_band=1,
        max_bucket=LSH_MAX_BUCKET, threshold=0.5,
    )
    return out["removals"].select("removed_doc", "keep_doc", "via")


NEAR_INC_CUT = 400  # documents < cut are the seen corpus, >= cut the arrivals


def q_near_dedup_inc(spark, sf_dir):
    """Incremental near-dup dedup: arrivals (doc_id >= cut) against the
    seen corpus (< cut). The oracle replays the union chain with the
    incremental restrictions — only candidates/edges whose b side is new,
    hot-route only for buckets that gained a new doc, removals only among
    new docs — so the work-∝-tranche semantics are hash-verified."""
    from ..ops.dedup import near_dedup_incremental

    d = _read(spark, sf_dir, "documents")
    out = near_dedup_incremental(
        d.filter(F.col("doc_id") < NEAR_INC_CUT),
        d.filter(F.col("doc_id") >= NEAR_INC_CUT),
        "doc_id", "text",
        max_bucket=LSH_MAX_BUCKET, threshold=0.5,
    )
    return out["removals"].select("removed_doc", "keep_doc", "via")


def q_near_dedup_sigs(spark, sf_dir):
    """The persisted-signature-index incremental path: the seen corpus's
    minhash signatures are WRITTEN via write_signature_index (ingestion
    time — records the banding in the store manifest) and read back for
    the tranche run via `seen_sigs=`/`seen_banding=` — so only the new
    tranche is signed AND a banding mismatch between index and tranche is
    a hard error. Must produce EXACTLY the removals of the recompute-mode
    q_near_dedup_inc (same oracle SQL)."""
    import shutil
    import tempfile

    from ..ops.dedup import (
        near_dedup_incremental,
        read_signature_index,
        write_signature_index,
    )
    from ..pipeline.checkpoints import CheckpointStore

    d = _read(spark, sf_dir, "documents")
    seen = d.filter(F.col("doc_id") < NEAR_INC_CUT)
    new = d.filter(F.col("doc_id") >= NEAR_INC_CUT)
    tmp = tempfile.mkdtemp(prefix="tcmkg_sigs_contract_")
    try:
        store = CheckpointStore(tmp)
        write_signature_index(store, seen, "seen_sigs", "doc_id", "text")
        sigs, banding = read_signature_index(store, spark, "seen_sigs")
        out = near_dedup_incremental(
            seen, new, "doc_id", "text",
            max_bucket=LSH_MAX_BUCKET, threshold=0.5,
            seen_sigs=sigs, seen_banding=banding,
        )
        rows = out["removals"].select("removed_doc", "keep_doc", "via").collect()
        out["unpersist"]()
        return spark.createDataFrame(
            rows, "removed_doc long, keep_doc long, via string"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


SQL_NEAR_DEDUP_INC = f"""
WITH RECURSIVE {_sql_minhash_sigs_cte_r(6, 2)},
hot AS (SELECT band, sig FROM sigs GROUP BY band, sig HAVING count(*) > {LSH_MAX_BUCKET}),
kept AS (SELECT * FROM sigs ANTI JOIN hot USING (band, sig)),
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM kept a JOIN kept b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  WHERE b.doc_id >= {NEAR_INC_CUT}
),
dtok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
ver AS (
  SELECT c.a, c.b FROM cand c
  JOIN dtok ta ON ta.doc_id = c.a
  JOIN dtok tb ON tb.doc_id = c.b
  WHERE round(len(list_intersect(ta.toks, tb.toks))::DOUBLE
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 6) >= 0.5
),
hotn AS (
  SELECT DISTINCT band, sig FROM sigs SEMI JOIN hot USING (band, sig)
  WHERE doc_id >= {NEAR_INC_CUT}
),
hotdocs AS (SELECT DISTINCT doc_id FROM sigs SEMI JOIN hotn USING (band, sig)),
hx AS (SELECT d.doc_id, md5(d.text) AS th FROM documents d SEMI JOIN hotdocs USING (doc_id)),
ekeep AS (SELECT th, min(doc_id) AS keep FROM hx GROUP BY th),
eedges AS (
  SELECT k.keep AS a, h.doc_id AS b FROM hx h JOIN ekeep k USING (th)
  WHERE h.doc_id <> k.keep AND h.doc_id >= {NEAR_INC_CUT}
),
edges AS (SELECT a, b FROM ver UNION SELECT a, b FROM eedges),
und AS (SELECT a AS x, b AS y FROM edges UNION SELECT b AS x, a AS y FROM edges),
nodes AS (SELECT DISTINCT x AS n FROM und),
reach AS (
  SELECT n AS src, n AS dst FROM nodes
  UNION
  SELECT r.src, u.y FROM reach r JOIN und u ON r.dst = u.x
),
comp AS (SELECT src AS node, min(dst) AS comp FROM reach GROUP BY src)
SELECT node AS removed_doc, comp AS keep_doc,
       CASE WHEN node IN (SELECT DISTINCT b FROM eedges)
            THEN 'exact_hot_bucket' ELSE 'near' END AS via
FROM comp WHERE node <> comp AND node >= {NEAR_INC_CUT}
"""


# streamed near-dedup: micro-batch boundaries by doc_id range (monotone-id
# crawl layout; documents span 0..499 at every SF)
STREAM_NEARDUP_CUTS = (200, 400)


def q_stream_neardup(spark, sf_dir):
    """STREAMING near-duplicate suppression (the production crawl shape):
    the corpus lands as three time-ordered files, one micro-batch each
    (availableNow, maxFilesPerTrigger=1); each micro-batch is near-deduped
    against the PERSISTED, GROWING signature index via foreachBatch +
    near_dedup_incremental(seen_sigs=...), and the kept docs' signatures
    are appended to the index for the next batch. The oracle replays the
    three sequential stages in SQL (each stage = the incremental chain
    over kept-so-far ∪ tranche), so cross-micro-batch dedup against the
    index — not just one tranche — is hash-verified."""
    import os
    import shutil
    import tempfile

    from ..pipeline.checkpoints import CheckpointStore
    from ..streaming.ingest import stream_near_dedup

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="tcmkg_stream_neardup_")
    landing = os.path.join(tmp, "landing")
    os.makedirs(landing)
    c1, c2 = STREAM_NEARDUP_CUTS
    bounds = [(None, c1), (c1, c2), (c2, None)]
    for i, (lo, hi) in enumerate(bounds):
        part = d
        if lo is not None:
            part = part.filter(F.col("doc_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("doc_id") < hi)
        p = os.path.join(landing, f"arrival_{i}.parquet")
        part.toPandas().to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + i * 60,) * 2)
    q = stream_near_dedup(
        spark, landing, os.path.join(tmp, "out"), os.path.join(tmp, "ckpt"),
        max_bucket=LSH_MAX_BUCKET, threshold=0.5,
    )
    assert q.awaitTermination(600), "stream_near_dedup timed out (600s)"
    rows = (
        CheckpointStore(os.path.join(tmp, "out", "removals"))
        .read_committed(spark, "epoch")
        .select("removed_doc", "keep_doc", "via")
        .collect()
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "removed_doc long, keep_doc long, via string"
    )


def _sql_neardup_stage(s: int, lo: int, hi: int | None, prior: list[int],
                       n_bands: int = 6, rows_per_band: int = 2) -> str:
    """CTE block for one streamed micro-batch: the incremental near-dedup
    chain over docs{s} = (kept docs so far) ∪ tranche, with the b-side-new
    restrictions of SQL_NEAR_DEDUP_INC at cut `lo`. At lo=0 the template
    reduces exactly to the batch chain (the bootstrap micro-batch)."""
    hi_pred = f"doc_id < {hi}" if hi is not None else "TRUE"
    excl = ""
    if prior:
        u = " UNION ALL ".join(f"SELECT removed_doc FROM removed{p}" for p in prior)
        excl = f" AND doc_id NOT IN ({u})"
    mins = ",\n         ".join(
        f"min(md5('{b}:{r}:' || tok)) AS m_{b}_{r}"
        for b in range(n_bands) for r in range(rows_per_band)
    )
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5({' || '.join(f'm_{b}_{r}' for r in range(rows_per_band))}) AS sig "
        f"FROM mins{s}"
        for b in range(n_bands)
    )
    return f"""docs{s} AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE {hi_pred}{excl}
),
tok{s} AS (
  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM docs{s}
),
mins{s} AS MATERIALIZED (
  SELECT doc_id, {mins}
  FROM tok{s} GROUP BY doc_id
),
sigs{s} AS MATERIALIZED (
  {band_rows}
),
hot{s} AS MATERIALIZED (SELECT band, sig FROM sigs{s} GROUP BY band, sig HAVING count(*) > {LSH_MAX_BUCKET}),
keptb{s} AS MATERIALIZED (SELECT * FROM sigs{s} ANTI JOIN hot{s} USING (band, sig)),
cand{s} AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM keptb{s} a JOIN keptb{s} b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  WHERE b.doc_id >= {lo}
),
ver{s} AS (
  SELECT c.a, c.b FROM cand{s} c
  JOIN dtok ta ON ta.doc_id = c.a
  JOIN dtok tb ON tb.doc_id = c.b
  WHERE round(len(list_intersect(ta.toks, tb.toks))::DOUBLE
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 6) >= 0.5
),
hotn{s} AS (
  SELECT DISTINCT band, sig FROM sigs{s} SEMI JOIN hot{s} USING (band, sig)
  WHERE doc_id >= {lo}
),
hotdocs{s} AS MATERIALIZED (SELECT DISTINCT doc_id FROM sigs{s} SEMI JOIN hotn{s} USING (band, sig)),
hx{s} AS MATERIALIZED (SELECT d.doc_id, md5(d.text) AS th FROM docs{s} d SEMI JOIN hotdocs{s} USING (doc_id)),
ekeep{s} AS (SELECT th, min(doc_id) AS keep FROM hx{s} GROUP BY th),
eedges{s} AS (
  SELECT k.keep AS a, h.doc_id AS b FROM hx{s} h JOIN ekeep{s} k USING (th)
  WHERE h.doc_id <> k.keep AND h.doc_id >= {lo}
),
edges{s} AS (SELECT a, b FROM ver{s} UNION SELECT a, b FROM eedges{s}),
und{s} AS MATERIALIZED (SELECT a AS x, b AS y FROM edges{s} UNION SELECT b AS x, a AS y FROM edges{s}),
nodes{s} AS (SELECT DISTINCT x AS n FROM und{s}),
reach{s} AS (
  SELECT n AS src, n AS dst FROM nodes{s}
  UNION
  SELECT r.src, u.y FROM reach{s} r JOIN und{s} u ON r.dst = u.x
),
comp{s} AS (SELECT src AS node, min(dst) AS comp FROM reach{s} GROUP BY src),
removed{s} AS MATERIALIZED (
  SELECT node AS removed_doc, comp AS keep_doc,
         CASE WHEN node IN (SELECT DISTINCT b FROM eedges{s})
              THEN 'exact_hot_bucket' ELSE 'near' END AS via
  FROM comp{s} WHERE node <> comp AND node >= {lo}
)"""


def _sql_stream_neardup() -> str:
    c1, c2 = STREAM_NEARDUP_CUTS
    stages = ",\n".join(
        [
            _sql_neardup_stage(1, 0, c1, []),
            _sql_neardup_stage(2, c1, c2, [1]),
            _sql_neardup_stage(3, c2, None, [1, 2]),
        ]
    )
    return f"""
WITH RECURSIVE dtok AS MATERIALIZED (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
),
{stages}
SELECT removed_doc, keep_doc, via FROM removed1
UNION ALL SELECT removed_doc, keep_doc, via FROM removed2
UNION ALL SELECT removed_doc, keep_doc, via FROM removed3
"""


def q_fingerprints(spark, sf_dir):
    """Winnowed k-gram document fingerprints (MOSS scheme): the DuckDB
    oracle replays gram-hashing + window-min + distinct with list
    comprehensions, so the whole construction is hash-verified."""
    from ..ops.fingerprint import winnow_fingerprints

    d = _read(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d, "doc_id", "text", k=8, window=4)
    return fps.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_fps"), F.min("fp").alias("min_fp")
    )


SQL_FINGERPRINTS = """
WITH g AS (
  SELECT doc_id,
         [md5(substr(text, i, 8)) FOR i IN range(1, length(text) - 8 + 2)] AS gh
  FROM documents WHERE length(text) >= 8
),
w AS (
  SELECT doc_id,
         list_distinct([list_min(gh[j:j+3]) FOR j IN range(1, len(gh) - 4 + 2)]) AS fps
  FROM g WHERE len(gh) >= 4
)
SELECT doc_id, len(fps)::BIGINT AS n_fps, list_min(fps) AS min_fp FROM w
"""


def q_token_quality(spark, sf_dir):
    """Token counting (whitespace + BPE-ish regex) and punctuation quality
    ratio over a punctuation-bearing string (events.props || ' id=' || id)."""
    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") % 13 == 0)
    s = F.concat(F.col("props"), F.lit(" id="), F.col("event_id").cast("string"))
    d = ev.select(F.col("event_id").alias("eid"), s.alias("s"))
    bpe = F.size(F.expr("regexp_extract_all(s, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"))
    punct = F.size(F.expr("regexp_extract_all(s, '[^A-Za-z0-9 ]', 0)"))
    punct_ratio = F.round(punct / F.length("s"), 6)
    return d.select(
        "eid",
        F.size(F.split("s", " ")).cast("long").alias("n_ws"),
        bpe.cast("long").alias("n_bpe"),
        punct_ratio.alias("punct_ratio"),
        (punct_ratio <= 0.4).alias("quality_ok"),
    )


SQL_TOKEN_QUALITY = """
WITH d AS (
  SELECT event_id AS eid, props || ' id=' || event_id::VARCHAR AS s
  FROM events WHERE event_id % 13 = 0
)
SELECT eid,
       len(string_split(s, ' '))::BIGINT AS n_ws,
       len(regexp_extract_all(s, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))::BIGINT AS n_bpe,
       round(len(regexp_extract_all(s, '[^A-Za-z0-9 ]', 0))::DOUBLE / length(s), 6) AS punct_ratio,
       (round(len(regexp_extract_all(s, '[^A-Za-z0-9 ]', 0))::DOUBLE / length(s), 6) <= 0.4) AS quality_ok
FROM d
"""


def q_cos_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact all-pairs baseline (the
    IVF-cell-blocked variant must return a subset of this — tested)."""
    from ..ops.similarity import embedding_neardup_pairs

    e = _read(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(e, "vec_id", "embedding", threshold=0.35)


SQL_COS_NEARDUP = """
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
"""


def q_shingle_jaccard(spark, sf_dir):
    """Character 3-gram (shingle) Jaccard near-dup pairs with the shingle
    DF cap biting (cap=30 on the %13 doc subset): order-sensitive near-dup,
    complementing token-set q_jaccard_pairs."""
    from ..ops.dedup import shingle_jaccard_pairs

    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 13 == 0)
    return shingle_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.4, max_df=30)


SQL_SHINGLE_JACCARD = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0),
tok0 AS (
  SELECT doc_id,
         unnest(list_distinct([substr(text, i, 3) FOR i IN range(1, length(text)-3+2)])) AS tok
  FROM d
),
hot AS (SELECT tok FROM tok0 GROUP BY tok HAVING count(*) > 30),
tok AS (SELECT * FROM tok0 ANTI JOIN hot USING (tok)),
sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS doc_b, count(*) AS i
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_id, i.doc_b, round(i.i / (sa.sz + sb.sz - i.i), 6) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_id
             JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.i / (sa.sz + sb.sz - i.i), 6) >= 0.4
"""


LANG_CN_WORDS = ["甘草", "人参", "主治", "头痛", "口渴"]


def q_lang_id(spark, sf_dir):
    """Script-profile language ID (the n-gram-heuristic shape): classify a
    synthesized mixed-language string by its CJK vs Latin character ratio.
    The string mixes events.props (ASCII JSON) with modulo-picked Chinese
    words, so zh / en / mixed all occur and DuckDB predicts the label."""
    ev = _read(spark, sf_dir, "events")
    eid = F.col("event_id")
    cn = F.element_at(
        F.array(*[F.lit(w) for w in LANG_CN_WORDS]), (eid % 5 + 1).cast("int")
    )
    s = (
        F.when(eid % 3 == 0, F.concat(cn, cn, cn))              # pure zh
        .when(eid % 3 == 1, F.col("props"))                      # pure en/ascii
        .otherwise(F.concat(F.col("props"), F.lit(" "), cn))     # mixed
    )
    d = ev.select(eid.alias("eid"), s.alias("s"))
    n_cjk = F.size(F.expr("regexp_extract_all(s, '[\\u4e00-\\u9fff]', 0)"))
    n_lat = F.size(F.expr("regexp_extract_all(s, '[a-zA-Z]', 0)"))
    ratio = F.try_divide(n_cjk, n_cjk + n_lat)
    lang = (
        F.when(ratio >= 0.7, F.lit("zh"))
        .when(ratio <= 0.1, F.lit("en"))
        .otherwise(F.lit("mixed"))
    )
    return d.select("eid", lang.alias("lang")).groupBy("lang").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("eid").cast("long").alias("eid_sum"),
    )


SQL_LANG_ID = r"""
WITH d AS (
  SELECT event_id AS eid,
         CASE
           WHEN event_id % 3 = 0 THEN repeat((['甘草','人参','主治','头痛','口渴'])[(event_id % 5) + 1], 3)
           WHEN event_id % 3 = 1 THEN props
           ELSE props || ' ' || (['甘草','人参','主治','头痛','口渴'])[(event_id % 5) + 1]
         END AS s
  FROM events
),
c AS (
  SELECT eid,
         len(regexp_extract_all(s, '[\x{4e00}-\x{9fff}]', 0)) AS n_cjk,
         len(regexp_extract_all(s, '[a-zA-Z]', 0)) AS n_lat
  FROM d
)
SELECT CASE WHEN n_cjk::DOUBLE / (n_cjk + n_lat) >= 0.7 THEN 'zh'
            WHEN n_cjk::DOUBLE / (n_cjk + n_lat) <= 0.1 THEN 'en'
            ELSE 'mixed' END AS lang,
       count(*)::BIGINT AS n, sum(eid)::BIGINT AS eid_sum
FROM c GROUP BY 1
"""


def q_quality_filter(spark, sf_dir):
    """Composed corpus-hygiene operator: documents are doctored per
    doc_id%7 so every removal reason occurs deterministically (short stub /
    punctuation wall / stopword-free filler / one-token repetition), then
    quality_filter's removal provenance + kept set are hash-verified — the
    reason PRECEDENCE (first failing rule wins) is part of the contract."""
    from ..ops.quality import quality_flags

    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = (
        F.when(did % 7 == 0, F.substring("text", 1, 10))
        .when(did % 7 == 1, F.repeat(F.lit("!?"), 40))
        .when(did % 7 == 2, F.rtrim(F.repeat(F.lit("word "), 30)))
        .when(did % 7 == 3, F.rtrim(F.repeat(F.lit("the "), 30)))
        .otherwise(F.col("text"))
    )
    flags = quality_flags(d.select("doc_id", s.alias("text")), "doc_id", "text")
    return flags.groupBy(F.coalesce("reason", F.lit("kept")).alias("reason")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


_q_sw = ",".join(f"'{s}'" for s in STOPWORDS)
# SQL replicas of the CJK-aware default quality rules (ops.quality): the
# Unicode-punct ratio and the pooled token+CJK-function-char stopword ratio.
# Built from the SAME constants as the Spark side so retuning either list
# cannot silently diverge the oracle.
_Q_PUNCT_SQL = (
    r"round(len(regexp_extract_all(text, '[\p{P}\p{S}]', 0))::DOUBLE"
    " / length(text), 6) > 0.3"
)
_Q_NOSTOP_SQL = (
    f"round((len(list_filter(string_split(text,' '), x -> x IN ({_q_sw})))"
    f" + len(regexp_extract_all(text, '[{DEFAULT_CJK_STOPCHARS}]', 0)))::DOUBLE"
    " / (len(string_split(text,' '))"
    " + len(regexp_extract_all(text, '[一-鿿]', 0))), 6) < 0.01"
)
SQL_QUALITY_FILTER = f"""
WITH d AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 7 = 0 THEN substr(text, 1, 10)
           WHEN doc_id % 7 = 1 THEN repeat('!?', 40)
           WHEN doc_id % 7 = 2 THEN rtrim(repeat('word ', 30))
           WHEN doc_id % 7 = 3 THEN rtrim(repeat('the ', 30))
           ELSE text
         END AS text
  FROM documents
),
f AS (
  SELECT doc_id,
         length(text) < 20 AS too_short,
         {_Q_PUNCT_SQL} AS too_much_punct,
         {_Q_NOSTOP_SQL} AS no_stopwords,
         round(len(list_distinct(string_split(text,' ')))::DOUBLE
               / len(string_split(text,' ')), 6) < 0.3 AS too_repetitive
  FROM d
)
SELECT coalesce(CASE WHEN too_short THEN 'too_short'
            WHEN too_much_punct THEN 'too_much_punct'
            WHEN no_stopwords THEN 'no_stopwords'
            WHEN too_repetitive THEN 'too_repetitive' END, 'kept') AS reason,
       count(*)::BIGINT AS n, sum(doc_id)::BIGINT AS id_sum
FROM f GROUP BY 1
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum hash sampling (the reproducible sampleBy):
    per-segment fractions compile to one CASE cutoff — single scan, no
    join, stable under retries/repartitioning, unlike rand-based sampleBy."""
    from ..ops.sampling import stratified_sample_by_hash

    c = _read(spark, sf_dir, "customer")
    s = stratified_sample_by_hash(
        c, "c_custkey", "c_mktsegment",
        {"BUILDING": 0.5, "MACHINERY": 0.2}, default_fraction=0.05,
    )
    return s.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
    )


SQL_STRATIFIED_SAMPLE = """
WITH b AS (
  SELECT c_custkey, c_mktsegment,
         ('0x' || substr(md5(c_custkey::VARCHAR || ''), 1, 8))::BIGINT % 10000 AS bucket
  FROM customer
)
SELECT c_mktsegment, count(*)::BIGINT AS n, sum(c_custkey)::BIGINT AS key_sum
FROM b
WHERE bucket < (CASE c_mktsegment WHEN 'BUILDING' THEN 5000
                                  WHEN 'MACHINERY' THEN 2000
                                  ELSE 500 END)
GROUP BY c_mktsegment
"""


def q_prepare_corpus(spark, sf_dir):
    """THE capstone composition: quality_filter → near_dedup → hash split →
    sharded packing in one operator call, over documents doctored so the
    quality stage removes deterministic classes first. The DuckDB oracle
    replays the ENTIRE four-stage pipeline (rules + precedence, minhash/LSH
    cap, per-pair Jaccard, exact hot-bucket routing, recursive-CTE CC,
    split cutoffs, pack windows) — the composition itself is
    hash-verified, not just the stages."""
    from ..ops.prepare import prepare_corpus

    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = (
        F.when(did % 7 == 0, F.substring("text", 1, 10))
        .when(did % 7 == 1, F.repeat(F.lit("!?"), 40))
        .when(did % 7 == 2, F.rtrim(F.repeat(F.lit("word "), 30)))
        .when(did % 7 == 3, F.rtrim(F.repeat(F.lit("the "), 30)))
        .otherwise(F.col("text"))
    )
    out = prepare_corpus(
        d.select("doc_id", s.alias("text")), "doc_id", "text",
        fractions={"train": 0.9, "val": 0.1}, budget=500,
        max_bucket=LSH_MAX_BUCKET, threshold=0.5,
    )
    return out["corpus"].groupBy("shard", "bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


_PC_DOCTOR = """
  SELECT doc_id,
         CASE
           WHEN doc_id % 7 = 0 THEN substr(text, 1, 10)
           WHEN doc_id % 7 = 1 THEN repeat('!?', 40)
           WHEN doc_id % 7 = 2 THEN rtrim(repeat('word ', 30))
           WHEN doc_id % 7 = 3 THEN rtrim(repeat('the ', 30))
           ELSE text
         END AS text
  FROM documents
"""

SQL_PREPARE_CORPUS = f"""
WITH RECURSIVE doc0 AS ({_PC_DOCTOR}),
kept0 AS (
  SELECT doc_id, text FROM doc0
  WHERE NOT (length(text) < 20)
    AND NOT ({_Q_PUNCT_SQL})
    AND NOT ({_Q_NOSTOP_SQL})
    AND NOT (round(len(list_distinct(string_split(text,' ')))::DOUBLE
             / len(string_split(text,' ')), 6) < 0.3)
),
{_sql_minhash_sigs_cte_r(6, 2, src="kept0")},
hot AS (SELECT band, sig FROM sigs GROUP BY band, sig HAVING count(*) > {LSH_MAX_BUCKET}),
keptsig AS (SELECT * FROM sigs ANTI JOIN hot USING (band, sig)),
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM keptsig a JOIN keptsig b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
dtok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM kept0),
ver AS (
  SELECT c.a, c.b FROM cand c
  JOIN dtok ta ON ta.doc_id = c.a
  JOIN dtok tb ON tb.doc_id = c.b
  WHERE round(len(list_intersect(ta.toks, tb.toks))::DOUBLE
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 6) >= 0.5
),
hotdocs AS (SELECT DISTINCT doc_id FROM sigs SEMI JOIN hot USING (band, sig)),
hx AS (SELECT k.doc_id, md5(k.text) AS th FROM kept0 k SEMI JOIN hotdocs USING (doc_id)),
ekeep AS (SELECT th, min(doc_id) AS keep FROM hx GROUP BY th),
eedges AS (
  SELECT k.keep AS a, h.doc_id AS b FROM hx h JOIN ekeep k USING (th)
  WHERE h.doc_id <> k.keep
),
edges AS (SELECT a, b FROM ver UNION SELECT a, b FROM eedges),
und AS (SELECT a AS x, b AS y FROM edges UNION SELECT b AS x, a AS y FROM edges),
nodes AS (SELECT DISTINCT x AS n FROM und),
reach AS (
  SELECT n AS src, n AS dst FROM nodes
  UNION
  SELECT r.src, u.y FROM reach r JOIN und u ON r.dst = u.x
),
removed AS (
  SELECT src AS node FROM reach GROUP BY src HAVING src <> min(dst)
),
final AS (
  SELECT k.doc_id, len(string_split(k.text, ' '))::BIGINT AS n_tokens
  FROM kept0 k ANTI JOIN removed r ON k.doc_id = r.node
),
sp AS (
  SELECT doc_id, n_tokens,
         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ''), 1, 8))::BIGINT % 10000 < 9000
              THEN 'train' ELSE 'val' END AS split
  FROM final
),
packed AS (
  SELECT split || '|' || (('0x' || substr(md5(doc_id::VARCHAR || ''), 1, 8))::BIGINT % 4)::VARCHAR AS shard,
         n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY split || '|' || (('0x' || substr(md5(doc_id::VARCHAR || ''), 1, 8))::BIGINT % 4)::VARCHAR
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM sp
)
SELECT shard, (cum_before // 500)::BIGINT AS bin,
       count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens
FROM packed GROUP BY 1, 2
"""


def q_split(spark, sf_dir):
    """Deterministic hash split (train/val/test): reproducible across runs,
    engines, partitionings, and task retries — rand() splits are none of
    those. Per-split counts + id checksums verified against DuckDB."""
    from ..ops.sampling import split_by_hash

    d = _read(spark, sf_dir, "documents")
    s = split_by_hash(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return s.groupBy("split").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


SQL_SPLIT = """
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR || ''), 1, 8))::BIGINT % 10000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val'
            WHEN bucket < 10000 THEN 'test' END AS split,
       count(*)::BIGINT AS n, sum(doc_id)::BIGINT AS id_sum
FROM b GROUP BY 1
"""


def q_pack_bins(spark, sf_dir):
    """Sequence packing in the SHARDED (scale) shape: shards pack
    independently in parallel (PARTITION BY shard window, no global sort);
    bins are (shard, bin) composites."""
    from ..ops.sampling import pack_greedy

    d = _read(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    packed = pack_greedy(
        d, "doc_id", F.col("n_tokens"), budget=500,
        shard_col=(F.col("doc_id") % 4),
    )
    return packed.groupBy("shard", "bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


SQL_PACK_BINS = """
WITH d AS (
  SELECT doc_id, doc_id % 4 AS shard, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d
)
SELECT shard, (cum_before // 500)::BIGINT AS bin, count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS sum_tokens
FROM c GROUP BY 1, 2
"""


def q_pack_sequences(spark, sf_dir):
    """The concat-with-EOS step a pretraining loader consumes
    (ops/sampling.materialize_sequences): pack_greedy's bins become one
    training sequence each — member texts joined in id order by the
    separator. The sequence BYTES are md5-pinned, so a wrong member, a
    wrong order, or a mangled separator hash-fails. Scale shape: one
    groupBy on the bin key whose fan-in is bounded by the token budget
    (hot bins cannot exist by construction); order is established
    WITHIN each row by array_sort, not by a sort shuffle."""
    from ..ops.sampling import materialize_sequences, pack_greedy

    d = _read(spark, sf_dir, "documents").select(
        "doc_id", "text", F.size(F.split("text", " ")).alias("n_tokens")
    )
    packed = pack_greedy(
        d, "doc_id", F.col("n_tokens"), budget=500,
        shard_col=(F.col("doc_id") % 4),
    )
    seqs = materialize_sequences(packed, "doc_id", "text")
    return seqs.select(
        "shard", "bin", "n_docs", "n_tokens",
        F.length("seq_text").cast("long").alias("seq_len"),
        F.md5("seq_text").alias("seq_md5"),
    )


SQL_PACK_SEQUENCES = """
WITH d AS (
  SELECT doc_id, text, doc_id % 4 AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, text, shard, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d
),
s AS (
  SELECT shard, (cum_before // 500)::BIGINT AS bin,
         string_agg(text, '<|eos|>' ORDER BY doc_id) AS seq_text,
         count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
  FROM c GROUP BY 1, 2
)
SELECT shard, bin, n_docs, n_tokens,
       length(seq_text)::BIGINT AS seq_len, md5(seq_text) AS seq_md5
FROM s
"""


def q_literal_dict(spark, sf_dir):
    """P6: Python-literal dict strings -> typed columns. The literal is
    synthesized from event_id (so DuckDB can predict the outcome without a
    Python parser), including a JSON-style `true/false` needing the retry
    patch, an xref whose id itself contains a colon (split on FIRST colon
    only), and a malformed cell every 97th row (must parse to NULL, not
    crash). The Spark side genuinely round-trips through ast.literal_eval
    in the vectorized kernel. Respread first (r6): the single-file events
    scan is ONE map task, which put 600k literal_eval calls on one core
    (7.0 s at sf0.1 -> ~1 s; ops/dedup's single-file-scan rule)."""
    from ..kernels.pydict import parse_literal_dict, prop_first, xref_ids
    from ..ops.dedup import _respread_by

    ev = _respread_by(_read(spark, sf_dir, "events"), "event_id")
    eid = F.col("event_id")
    lit = F.concat(
        F.lit("{'k': '"), (eid % 50).cast("string"),
        F.lit("', 'xrefs': ['DB"), (eid % 3).cast("string"),
        F.lit(":x:"), (eid % 7).cast("string"),
        F.lit("', 'OMIM:"), (eid % 11).cast("string"),
        F.lit("'], 'score': "), (eid % 5).cast("string"),
        F.lit(", 'flag': "), F.when(eid % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
        F.lit("}"),
    )
    lit = F.when(eid % 97 == 0, F.lit("{'k': broken")).otherwise(lit)
    parsed = ev.select(eid.alias("eid"), parse_literal_dict(lit).alias("p"))
    d = parsed.select(
        prop_first(F.col("p"), "k").alias("k"),
        prop_first(F.col("p"), "flag").alias("flag"),
        xref_ids(F.col("p"), "OMIM").alias("omim"),
        xref_ids(F.col("p"), "DB1").alias("db1"),
        prop_first(F.col("p"), "score").alias("score"),
    )
    return d.groupBy("k", "flag").agg(
        F.count("*").cast("long").alias("n"),
        F.count("db1").cast("long").alias("n_db1"),
        F.min("omim").alias("min_omim"),
        F.max("score").alias("max_score"),
    )


SQL_LITERAL_DICT = """
WITH d AS (
  SELECT CASE WHEN event_id % 97 = 0 THEN NULL ELSE (event_id % 50)::VARCHAR END AS k,
         CASE WHEN event_id % 97 = 0 THEN NULL
              WHEN event_id % 2 = 0 THEN 'True' ELSE 'False' END AS flag,
         CASE WHEN event_id % 97 = 0 THEN NULL
              ELSE (event_id % 11)::VARCHAR END AS omim,
         CASE WHEN event_id % 97 = 0 OR event_id % 3 <> 1 THEN NULL
              ELSE 'x:' || (event_id % 7)::VARCHAR END AS db1,
         CASE WHEN event_id % 97 = 0 THEN NULL
              ELSE (event_id % 5)::VARCHAR END AS score
  FROM events
)
SELECT k, flag, count(*)::BIGINT AS n, count(db1)::BIGINT AS n_db1,
       min(omim) AS min_omim, max(score) AS max_score
FROM d GROUP BY k, flag
"""


def q_merge_tolerance(spark, sf_dir):
    """A2 rel-tol agreement at contract level: per customer, do order
    totals agree within rel_tol=0.2? (merge_utility.py:151 as data)."""
    from ..functions.merge import numeric_agreement

    o = _read(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n"),
        numeric_agreement("o_totalprice"),
    )


SQL_MERGE_TOLERANCE = """
SELECT o_custkey, count(*)::BIGINT AS n,
       CASE WHEN count(o_totalprice) <= 1 THEN TRUE
            ELSE (max(o_totalprice) - min(o_totalprice))
                 <= 0.2 * greatest(abs(max(o_totalprice)), abs(min(o_totalprice)))
       END AS o_totalprice_agrees
FROM orders GROUP BY o_custkey
"""


def q_stable_rank(spark, sf_dir):
    """W2 deterministic surrogate ranking at contract level: the two-pass
    range-partitioned rank (no global single-partition window) must equal
    the naive global row_number the oracle computes."""
    from ..pipeline.util import stable_rank

    keys = _read(spark, sf_dir, "orders").select("o_custkey").distinct()
    return stable_rank(keys, "o_custkey", "rank")


SQL_STABLE_RANK = """
SELECT o_custkey, (row_number() OVER (ORDER BY o_custkey) - 1)::BIGINT AS rank
FROM (SELECT DISTINCT o_custkey FROM orders)
"""


def q_multimodal(spark, sf_dir):
    """Multimodal decode plumbing at contract level: the deterministic
    synthetic media table flows through the mapInPandas feature kernel; the
    oracle VALUES table is a direct driver-side evaluation of the same
    codec (no Spark), so the differential pins the Arrow batching, schema,
    and row alignment (`sf_dir` unused: the media table is synthesized)."""
    from ..ops.multimodal import decode_features, synth_media

    feats = decode_features(synth_media(spark, 64))
    return feats.select(
        "doc_id",
        "modality",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("fsum"),
    )


def q_multimodal_bmp(spark, sf_dir):
    """REAL-codec multimodal path (fake_decode=False): image rows carry
    actual 24-bit BMP bytes; the kernel decodes them with the stdlib-only
    BMP parser (or PIL when the environment ships it — capability probe)
    and featurizes the pixels. The oracle computes features from the pixel
    ARRAYS directly, never touching BMP bytes, so the encode→decode
    round-trip itself is inside the differential (`sf_dir` unused: the
    media table is synthesized)."""
    from ..ops.multimodal import decode_features, synth_bmp_media

    feats = decode_features(synth_bmp_media(spark, 48), fake_decode=False)
    return feats.select(
        "doc_id",
        "modality",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("fsum"),
    )


def _sql_multimodal_bmp() -> str:
    from ..ops.multimodal import _features_from, bmp_pixels

    rows = []
    for i in range(48):
        f = _features_from(bmp_pixels(i))
        rows.append((i, "image", round(f[0], 6), round(sum(f), 6)))
    vals = ",\n".join(f"({i},'{m}',{f0!r},{fs!r})" for i, m, f0, fs in rows)
    return (
        "SELECT doc_id::BIGINT AS doc_id, modality, f0::DOUBLE AS f0, "
        "fsum::DOUBLE AS fsum FROM (VALUES\n" + vals +
        "\n) AS t(doc_id, modality, f0, fsum)"
    )


def _sql_multimodal() -> str:
    import hashlib

    from ..ops.multimodal import _decode_image, _features_from

    rows = []
    for i in range(64):
        modality = ("image", "audio", "video")[i % 3]
        blob = b"".join(
            hashlib.md5(f"{modality}:{i}:{j}".encode()).digest() for j in range(8)
        )
        f = _features_from(_decode_image(blob, fake=True))
        rows.append(
            f"({i},'{modality}',{round(f[0], 6)!r},{round(sum(f), 6)!r})"
        )
    return (
        "SELECT doc_id::BIGINT AS doc_id, modality, f0::DOUBLE AS f0, "
        "fsum::DOUBLE AS fsum FROM (VALUES\n" + ",\n".join(rows) +
        "\n) AS t(doc_id, modality, f0, fsum)"
    )


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-3 neighbors for query vectors (the exact
    baseline an IVF/LSH index must reproduce). Returns ranks, not floats —
    rank order is stable; raw cosine floats are engine-precision-sensitive."""
    e = _read(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select("vec_id", vec.alias("v"))
    norm = lambda col: F.sqrt(
        F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # norms staged as columns BEFORE the cross join: the same expression
    # over the same row yields the same double, but it is evaluated once
    # per vector instead of once per (query, candidate) pair — the
    # interpreted HOF norm fold was ~2/3 of the pair-scoring cost
    q = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
        norm(F.col("v")).alias("_qn"),
    )
    c = base.filter(F.col("vec_id") >= 5).withColumn("_vn", norm(F.col("v")))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sims = (
        q.crossJoin(c)
        .withColumn("cos", dot / (F.col("_qn") * F.col("_vn")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("qid", F.col("rk").cast("long").alias("rk"), F.col("vec_id").alias("neighbor"))
    )


SQL_ANN_TOPK = """
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id >= 5),
sims AS (
  SELECT q.qid, c.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], c.v::DOUBLE[]) AS cos
  FROM q, c
)
SELECT qid, rk::BIGINT AS rk, vec_id AS neighbor FROM (
  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
  FROM sims
) WHERE rk <= 3
"""


def q_ann_ivf(spark, sf_dir):
    """IVF index + search with FULL probe (nprobe == n_centroids): must
    reproduce exact brute-force top-k — so the whole index/build/search
    machinery is hash-verified against the same SQL oracle as q_ann_topk."""
    from ..ops.ann import _as_double, build_ivf, ivf_search

    e = _read(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 5)
    cent, assign = build_ivf(corpus, "vec_id", "embedding", n_centroids=4, n_iter=2)
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv")
    )
    return ivf_search(queries, corpus, cent, assign, "vec_id", "embedding",
                      nprobe=4, topk=3)


def q_ann_ivf_add(spark, sf_dir):
    """INCREMENTAL IVF maintenance: build on part of the corpus, persist,
    ivf_add the remaining tranche with a cell cap that forces at least one
    local re-split, then full-probe search the grown index — which must
    STILL reproduce exact brute-force top-k over the grown corpus (the
    same oracle as q_ann_topk). Proves the add/assign/split path preserves
    the index invariant (every corpus vector in exactly one live cell)
    without an O(corpus) rebuild."""
    import shutil
    import tempfile

    from ..ops.ann import _as_double, build_ivf, ivf_add, ivf_search, save_ivf
    from ..pipeline.checkpoints import CheckpointStore

    e = _read(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 5)
    old = corpus.filter(F.col("vec_id") < 300)
    new = corpus.filter(F.col("vec_id") >= 300)
    tmp = tempfile.mkdtemp(prefix="tcmkg_ivf_add_")
    try:
        store = CheckpointStore(tmp)
        cent0, assign0 = build_ivf(old, "vec_id", "embedding", n_centroids=4, n_iter=2)
        save_ivf(store, cent0, assign0)
        cent, assign = ivf_add(
            spark, store, corpus, new, "vec_id", "embedding",
            max_cell=120, n_subsplit=2, n_iter=2,
        )
        n_cells = cent.count()
        queries = e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv")
        )
        out = ivf_search(
            queries, corpus, cent, assign, "vec_id", "embedding",
            nprobe=n_cells, topk=3,
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_ann_ivf2(spark, sf_dir):
    """TWO-LEVEL (hierarchical) IVF with full probe: coarse cells from a
    deterministic sample + joint sub-kmeans (broadcast-join assign, no
    k-sized literal), flattened and searched across ALL cells — must
    reproduce exact brute-force top-k, hash-verified against the same
    oracle as q_ann_topk. This is the k~10^5 build path proven on small k."""
    from ..ops.ann import _as_double, build_ivf2, flatten_ivf2, ivf_search

    e = _read(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 5)
    cent2, assign2 = build_ivf2(
        corpus, "vec_id", "embedding", n_coarse=2, n_sub=2, n_iter=2
    )
    cent, assign = flatten_ivf2(cent2, assign2)
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv")
    )
    return ivf_search(queries, corpus, cent, assign, "vec_id", "embedding",
                      nprobe=4, topk=3)


def q_ann_ivf2h(spark, sf_dir):
    """Hierarchical SEARCH over the two-level index (coarse probe → sub
    probe → cell-pruned scan), with full coverage — must reproduce exact
    brute-force top-k against the same oracle. Complements q_ann_ivf2,
    which verifies the build via the flat search path."""
    from ..ops.ann import _as_double, build_ivf2, ivf2_search

    e = _read(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 5)
    cent, assign = build_ivf2(
        corpus, "vec_id", "embedding", n_coarse=2, n_sub=2, n_iter=2
    )
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv")
    )
    return ivf2_search(queries, corpus, cent, assign, "vec_id", "embedding",
                       n_coarse_probe=2, nprobe=4, topk=3)


def q_simhash(spark, sf_dir):
    """64-bit SimHash per document (vectorized pandas UDF). The DuckDB
    oracle rebuilds the bit votes relationally (unnest tokens x 64 bits),
    so the UDF's md5-bit arithmetic is hash-verified end to end."""
    from ..ops.dedup import simhash

    d = _read(spark, sf_dir, "documents")
    return d.select("doc_id", simhash(F.col("text")).alias("sh"))


SQL_SIMHASH = """
WITH tok AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents)
),
votes AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM tok, (SELECT unnest(generate_series(0, 63)) AS bit) b
  GROUP BY doc_id, b.bit
),
bits AS (
  -- two's complement directly: bit 63 contributes -2^63 when set
  SELECT doc_id,
         sum(CASE WHEN v > 0
                  THEN CASE WHEN bit = 63 THEN -9223372036854775808::HUGEINT
                            ELSE (1::BIGINT << bit)::HUGEINT END
                  ELSE 0::HUGEINT END) AS s
  FROM votes GROUP BY doc_id
)
SELECT doc_id, s::BIGINT AS sh FROM bits
"""


def q_embed_centroids(spark, sf_dir):
    e = _read(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode(F.transform(F.col("embedding"), lambda x: x.cast("double")))
    ).select("label", F.col("pos").cast("long").alias("dim"), F.col("col").alias("x"))
    return dims.groupBy("label", "dim").agg(F.round(F.avg("x"), 6).alias("centroid"))


# parallel unnests zip positionally in DuckDB (no WITH ORDINALITY in 1.0)
SQL_EMBED_CENTROIDS = """
SELECT label, dim::BIGINT AS dim, round(avg(x::DOUBLE), 6) AS centroid
FROM (
  SELECT label, unnest(embedding) AS x,
         unnest(generate_series(0, len(embedding) - 1)) AS dim
  FROM embeddings
) GROUP BY label, dim
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (ops/decontaminate.py): the doc_id%17==0
    slice of documents plays the eval benchmark; every remaining corpus doc
    reports how many of its distinct whitespace-token 8-grams appear
    verbatim anywhere in the eval set (GPT-3 appendix-C shape). Zero-hit
    rows are emitted too, so a false positive hash-fails just like a miss.
    Scale shape: eval n-grams broadcast, corpus = one scan; the only
    shuffle is the per-doc count of MATCHED rows."""
    from ..ops.decontaminate import contamination_hits

    d = _read(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 17 != 0)
    ev = d.filter(F.col("doc_id") % 17 == 0)
    return contamination_hits(corpus, ev, "doc_id", "text", n=8)


SQL_DECONTAMINATE = r"""
WITH corp AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents WHERE doc_id % 17 <> 0),
ev AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
       FROM documents WHERE doc_id % 17 = 0),
evng AS (
  SELECT DISTINCT unnest([array_to_string(toks[i:i+7], ' ')
                          FOR i IN range(1, greatest(len(toks)-8+2, 1))]) AS ng
  FROM ev
),
cng AS (
  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+7], ' ')
                          FOR i IN range(1, greatest(len(toks)-8+2, 1))])) AS ng
  FROM corp
),
hits AS (SELECT doc_id, count(*) AS n FROM cng JOIN evng USING (ng) GROUP BY doc_id)
SELECT c.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits
FROM (SELECT DISTINCT doc_id FROM corp) c LEFT JOIN hits h USING (doc_id)
"""


_PQ_M, _PQ_K, _PQ_ITER, _PQ_TOPK = 4, 4, 2, 3


def q_ann_pq(spark, sf_dir):
    """Product quantization end-to-end (ops/pq.py): train m=4 sub-
    codebooks (k=4, 2 Lloyd rounds, deterministic seeds + 6dp-rounded
    means), encode the corpus to code arrays, ADC-search the held-out
    queries. The oracle unrolls BOTH Lloyd rounds as chained CTEs (the
    pagerank pattern), so the training dynamics — assignment argmin with
    lowest-code ties, per-dim rounded means, empty-code carry-forward —
    are inside the hash, not just the final distances. Scale shape:
    per-round corpus work is one argmin projection + one combinable
    groupBy; the codebook (m*k vectors) is the only driver round-trip;
    search is a broadcast-LUT probe + combinable sum."""
    from ..ops.pq import pq_encode, pq_search, train_pq

    e = _read(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 5)
    books = train_pq(corpus, "vec_id", "embedding",
                     m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER)
    codes = pq_encode(corpus, books, "vec_id", "embedding")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return pq_search(queries, codes, books, topk=_PQ_TOPK)


def _sql_ann_pq(m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER, topk=_PQ_TOPK,
                dim=64) -> str:
    dsub = dim // m

    def sqd(av, bv) -> str:
        return (
            f"list_sum([({av}[i] - {bv}[i]) * ({av}[i] - {bv}[i])"
            f" FOR i IN range(1, {dsub + 1})])"
        )

    def round_ctes(r: int, prev: str) -> str:
        return f""",
a{r} AS (
  SELECT sub.id, sub.s, c.code, {sqd("sub.sv", "c.cvec")} AS d
  FROM sub JOIN {prev} c USING (s)
),
m{r} AS (SELECT id, s, min(d) AS md FROM a{r} GROUP BY id, s),
g{r} AS (
  SELECT a.id, a.s, min(a.code) AS code
  FROM a{r} a JOIN m{r} USING (id, s) WHERE a.d = md GROUP BY a.id, a.s
),
u{r} AS (
  SELECT s, code, list(mc ORDER BY pos) AS cvec FROM (
    SELECT s, code, pos, round(avg(x), 6) AS mc FROM (
      SELECT g.s, g.code, unnest(sub.sv) AS x,
             unnest(generate_series(0, {dsub - 1})) AS pos
      FROM g{r} g JOIN sub USING (id, s)
    ) GROUP BY s, code, pos
  ) GROUP BY s, code
),
c{r} AS (
  SELECT p.s, p.code, coalesce(u.cvec, p.cvec) AS cvec
  FROM {prev} p LEFT JOIN u{r} u USING (s, code)
)"""

    body = [
        f"""WITH base AS (
  SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE vec_id >= 5
),
ss AS (SELECT unnest(range(0, {m})) AS s),
sub AS (
  SELECT id, s, v[s*{dsub}+1 : s*{dsub}+{dsub}] AS sv FROM base, ss
),
c0 AS (
  SELECT s, row_number() OVER (PARTITION BY s ORDER BY id) - 1 AS code,
         sv AS cvec
  FROM sub QUALIFY row_number() OVER (PARTITION BY s ORDER BY id) <= {k}
)"""
    ]
    prev = "c0"
    for r in range(1, n_iter + 1):
        body.append(round_ctes(r, prev))
        prev = f"c{r}"
    body.append(f""",
af AS (
  SELECT sub.id, sub.s, c.code, {sqd("sub.sv", "c.cvec")} AS d
  FROM sub JOIN {prev} c USING (s)
),
mf AS (SELECT id, s, min(d) AS md FROM af GROUP BY id, s),
codesf AS (
  SELECT a.id, a.s, min(a.code) AS code
  FROM af a JOIN mf USING (id, s) WHERE a.d = md GROUP BY a.id, a.s
),
q AS (
  SELECT vec_id AS qid, list_transform(embedding, x -> x::DOUBLE) AS qv
  FROM embeddings WHERE vec_id < 5
),
qsub AS (
  SELECT qid, s, qv[s*{dsub}+1 : s*{dsub}+{dsub}] AS qsv FROM q, ss
),
lut AS (
  SELECT qid, qsub.s, c.code, {sqd("qsub.qsv", "c.cvec")} AS pd
  FROM qsub JOIN {prev} c USING (s)
),
ad AS (
  SELECT l.qid, cf.id, round(sum(l.pd), 6) AS adist
  FROM codesf cf JOIN lut l ON l.s = cf.s AND l.code = cf.code
  GROUP BY l.qid, cf.id
)
SELECT qid, id, adist FROM ad
QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adist, id) <= {topk}""")
    return "".join(body)


SQL_ANN_PQ = _sql_ann_pq()


def q_ann_ivfpq(spark, sf_dir):
    """IVF-PQ composed serving layout (ops/pq.ivfpq_search): IVF cells
    route, PQ codes score. Probing ALL cells makes routing a no-op, so
    the result must equal pq_search exactly — hash-pinned against the
    SAME unrolled-Lloyd oracle as q_ann_pq. The IVF build and the cell
    prune (broadcast probe list, code table never hash-shuffled) are
    inside the gate: a routing bug that drops or duplicates a cell's
    candidates changes the top-k."""
    from ..ops.ann import build_ivf
    from ..ops.pq import ivfpq_search, pq_encode, train_pq

    e = _read(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 5)
    cent, assign = build_ivf(corpus, "vec_id", "embedding",
                             n_centroids=4, n_iter=2)
    books = train_pq(corpus, "vec_id", "embedding",
                     m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER)
    codes = pq_encode(corpus, books, "vec_id", "embedding").join(assign, "id")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return ivfpq_search(queries, cent, codes, books,
                        nprobe=4, topk=_PQ_TOPK)


# full-pipeline plants: repetition classes must PASS the quality stage
# (stopword present, distinct-token ratio >= 0.3) so they reach — and are
# removed by — the repetition stage, not quality
_PF_T2 = "the dup line alpha\nthe dup line alpha\nsome unique third line here"
_PF_T3 = "the ha ho ha ho ha ho ha ho u1 u2 u3 u4"


def q_prepare_full(spark, sf_dir):
    """The FULL training-data pipeline: quality → Gopher repetition → LSH
    near-dedup → PII scrub → hash split → sharded packing, one operator
    call (ops/prepare.py, repetition=True, pii=True), hash-verified as a
    COMPOSITION against a DuckDB replay of all six stages. Doctoring per
    doc_id%11 plants one class per stage: quality kills %11=0 (short) and
    %11=1 (punct wall); repetition kills %11=2 (dup lines) and %11=3
    (dominant 2-gram) — both carry a stopword and enough distinct tokens
    to PASS quality, and both are corpus-wide identical, so a broken
    repetition stage would leak exactly one survivor per class through
    dedup and shift the rollup; PII plants on %11=4/5 change
    sum(length(text)) under redaction (placeholder shorter than the
    match), so a missed or mangled replacement hash-fails."""
    from ..ops.prepare import prepare_corpus

    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = (
        F.when(did % 11 == 0, F.substring("text", 1, 10))
        .when(did % 11 == 1, F.repeat(F.lit("!?"), 40))
        .when(did % 11 == 2, F.lit(_PF_T2))
        .when(did % 11 == 3, F.lit(_PF_T3))
        .when(did % 11 == 4, F.concat(F.col("text"), F.lit(_PII_PLANTS[0])))
        .when(did % 11 == 5, F.concat(F.col("text"), F.lit(_PII_PLANTS[3])))
        .otherwise(F.col("text"))
    )
    out = prepare_corpus(
        d.select("doc_id", s.alias("text")), "doc_id", "text",
        fractions={"train": 0.9, "val": 0.1}, budget=500,
        max_bucket=LSH_MAX_BUCKET, threshold=0.5,
        repetition=True, pii=True,
    )
    return out["corpus"].groupBy("shard", "bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
    )


def _sql_prepare_full() -> str:
    def esc(t: str) -> str:
        return "E'" + t.replace("\n", "\\n") + "'"

    doctor = f"""SELECT doc_id,
         CASE
           WHEN doc_id % 11 = 0 THEN substr(text, 1, 10)
           WHEN doc_id % 11 = 1 THEN repeat('!?', 40)
           WHEN doc_id % 11 = 2 THEN {esc(_PF_T2)}
           WHEN doc_id % 11 = 3 THEN {esc(_PF_T3)}
           WHEN doc_id % 11 = 4 THEN text || '{_PII_PLANTS[0]}'
           WHEN doc_id % 11 = 5 THEN text || '{_PII_PLANTS[3]}'
           ELSE text
         END AS text
  FROM documents"""
    return f"""
WITH RECURSIVE doc0 AS ({doctor}),
q_kept AS (
  SELECT doc_id, text FROM doc0
  WHERE NOT (length(text) < 20)
    AND NOT ({_Q_PUNCT_SQL})
    AND NOT ({_Q_NOSTOP_SQL})
    AND NOT (round(len(list_distinct(string_split(text,' ')))::DOUBLE
             / len(string_split(text,' ')), 6) < 0.3)
),
{_sql_repetition_ctes("q_kept")},
kept0 AS MATERIALIZED (
  -- MATERIALIZED: kept0 is referenced by sigs/dtok/hx/final; DuckDB
  -- inlines CTEs inside WITH RECURSIVE, which would re-execute the
  -- whole quality+repetition subtree (9 n-gram unnests) per reference
  SELECT k.doc_id, k.text FROM q_kept k JOIN rep_sig USING (doc_id)
  WHERE rep_sig.reason IS NULL
),
{_sql_minhash_sigs_cte_r(6, 2, src="kept0")},
hot AS (SELECT band, sig FROM sigs GROUP BY band, sig HAVING count(*) > {LSH_MAX_BUCKET}),
keptsig AS (SELECT * FROM sigs ANTI JOIN hot USING (band, sig)),
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM keptsig a JOIN keptsig b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
dtok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM kept0),
ver AS (
  SELECT c.a, c.b FROM cand c
  JOIN dtok ta ON ta.doc_id = c.a
  JOIN dtok tb ON tb.doc_id = c.b
  WHERE round(len(list_intersect(ta.toks, tb.toks))::DOUBLE
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 6) >= 0.5
),
hotdocs AS (SELECT DISTINCT doc_id FROM sigs SEMI JOIN hot USING (band, sig)),
hx AS (SELECT k.doc_id, md5(k.text) AS th FROM kept0 k SEMI JOIN hotdocs USING (doc_id)),
ekeep AS (SELECT th, min(doc_id) AS keep FROM hx GROUP BY th),
eedges AS (
  SELECT k.keep AS a, h.doc_id AS b FROM hx h JOIN ekeep k USING (th)
  WHERE h.doc_id <> k.keep
),
edges AS (SELECT a, b FROM ver UNION SELECT a, b FROM eedges),
und AS (SELECT a AS x, b AS y FROM edges UNION SELECT b AS x, a AS y FROM edges),
nodes AS (SELECT DISTINCT x AS n FROM und),
reach AS (
  SELECT n AS src, n AS dst FROM nodes
  UNION
  SELECT r.src, u.y FROM reach r JOIN und u ON r.dst = u.x
),
removed AS (
  SELECT src AS node FROM reach GROUP BY src HAVING src <> min(dst)
),
scrubbed AS (
  SELECT k.doc_id, {_sql_pii_redact("k.text")} AS text
  FROM kept0 k ANTI JOIN removed r ON k.doc_id = r.node
),
final AS (
  SELECT doc_id, text, len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM scrubbed
),
sp AS (
  SELECT doc_id, text, n_tokens,
         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ''), 1, 8))::BIGINT % 10000 < 9000
              THEN 'train' ELSE 'val' END AS split
  FROM final
),
packed AS (
  SELECT split || '|' || (('0x' || substr(md5(doc_id::VARCHAR || ''), 1, 8))::BIGINT % 4)::VARCHAR AS shard,
         n_tokens, length(text) AS n_chars,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY split || '|' || (('0x' || substr(md5(doc_id::VARCHAR || ''), 1, 8))::BIGINT % 4)::VARCHAR
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM sp
)
SELECT shard, (cum_before // 500)::BIGINT AS bin,
       count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens,
       sum(n_chars)::BIGINT AS sum_chars
FROM packed GROUP BY 1, 2
"""



# planted PII suffixes, shared between the Spark and DuckDB CASEs
_PII_PLANTS = {
    0: " contact alice.bob+spam@example.co.uk or bob@test.io",
    1: " server at 192.168.0.1 and 10.0.0.255 up",
    2: " call +86 138-0013-8000 or 021 6427 8000 now",
    3: " ssn 123456789 card 4111111111111111",
}


def q_pii(spark, sf_dir):
    """PII detection + redaction (ops/pii.py): per doc_id%5, a suffix
    planting two of one PII class is appended (emails / IPv4s / phones in
    both international and separator forms / long ID-like digit runs);
    %5=4 rows stay untouched as negatives. Per-doc class counts (over the
    RAW text), the total, and the redacted text — pinned by length AND
    md5, so a single mis-replaced byte hash-fails — are all verified
    against a DuckDB replay of the same regex classes (patterns restricted
    to the Java∩RE2 subset). Scale shape: pure map, zero shuffles."""
    from ..ops.pii import pii_redact, pii_signals

    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = F.col("text")
    for k, suffix in _PII_PLANTS.items():
        s = F.when(did % 5 == k, F.concat(F.col("text"), F.lit(suffix))).otherwise(s)
    sig = pii_signals(d.select("doc_id", s.alias("text")), "text")
    red = pii_redact(sig, "text", "red")
    return red.select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "n_idnum", "n_pii",
        F.length("red").cast("long").alias("red_len"),
        F.md5("red").alias("red_md5"),
    )


def _sql_pii_redact(col: str) -> str:
    """The chained-replacement redaction expression, shared by q_pii and
    the full-pipeline oracle."""
    from ..ops.pii import PII_PATTERNS, PII_PLACEHOLDERS

    red = col
    for name, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '{PII_PLACEHOLDERS[name]}', 'g')"
    return red


def _sql_pii() -> str:
    from ..ops.pii import PII_PATTERNS

    plant = " ".join(
        f"WHEN doc_id % 5 = {k} THEN text || '{sfx}'"
        for k, sfx in _PII_PLANTS.items()
    )
    counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    red = _sql_pii_redact("text")
    return f"""
WITH d AS (
  SELECT doc_id, CASE {plant} ELSE text END AS text FROM documents
),
c AS (
  SELECT doc_id,
       {counts},
       {red} AS red
  FROM d
)
SELECT doc_id, n_email, n_ipv4, n_phone, n_idnum,
       (n_email + n_ipv4 + n_phone + n_idnum)::BIGINT AS n_pii,
       length(red)::BIGINT AS red_len, md5(red) AS red_md5
FROM c
"""


SQL_PII = _sql_pii()


# planted repetition texts, shared verbatim between the Spark CASE and the
# DuckDB CASE (python-level constants so neither side can drift)
_REP_T0 = "dup line alpha\ndup line alpha\nsome unique third line tail"
_REP_T1 = "same para once\n\nsame para once\n\nu1\nu2\nu3\nu4\nu5\nu6\nu7\nu8"
_REP_T3 = (
    " ".join(f"p{i}" for i in range(1, 23)) + " v w x y z v w x y z q1 q2 q3"
)


def q_repetition(spark, sf_dir):
    """Gopher-style repetition signals + filter (ops/repetition.py):
    documents are doctored per doc_id%7 so each signal family fires as the
    removal reason deterministically — duplicated lines (%7=0), duplicated
    paragraphs with unique lines (%7=1, para outranks line-char in the
    Gopher precedence), a dominating 2-gram (%7=2), and a repeated 5-gram
    sized so no top-n-gram threshold trips first (%7=3); the untouched
    word-soup rows exercise natural n-gram repetition. All 13 per-doc
    fractions AND the first-failing-rule reason are hash-verified. Scale
    shape: one text scan builds every (kind, unit) occurrence, one
    map-side-combinable groupBy(id, kind, unit), one groupBy(id) — no
    joins, no all-pairs term."""
    from ..ops.repetition import repetition_flags

    d = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = (
        F.when(did % 7 == 0, F.lit(_REP_T0))
        .when(did % 7 == 1, F.lit(_REP_T1))
        .when(did % 7 == 2, F.rtrim(F.repeat(F.lit("ha ho "), 30)))
        .when(did % 7 == 3, F.lit(_REP_T3))
        .otherwise(F.col("text"))
    )
    flags = repetition_flags(d.select("doc_id", s.alias("text")), "doc_id", "text")
    return flags.drop("keep")


def _sql_repetition_ctes(src: str, p: str = "rep_") -> str:
    """CTE fragment computing the 13 Gopher signals + first-failing-rule
    reason per document of CTE `src`(doc_id, text) — splice after a WITH
    clause; defines `{p}sig`(doc_id, <13 signal columns>, reason). CTE
    names are prefixed with `p` so the block can nest inside larger
    composed oracles (q_prepare_full) without collisions."""
    from ..ops.repetition import DUP_NS, GOPHER_THRESHOLDS, TOP_NS

    ng_arms = []
    for n in sorted(set(TOP_NS) | set(DUP_NS)):
        ng_arms.append(
            f"""  SELECT doc_id, 'tok{n}' AS kind,
         unnest([array_to_string(t[i:i+{n - 1}], ' ')
                 FOR i IN range(1, greatest(len(t)-{n}+2, 1))]) AS unit
  FROM {p}toks WHERE len(t) >= {n}"""
        )
    aggs = []
    for kind in ("line", "para"):
        k = f"kind = '{kind}'"
        aggs += [
            f"sum(CASE WHEN {k} THEN c-1 END) AS {kind}_dn",
            f"sum(CASE WHEN {k} THEN c END) AS {kind}_dd",
            f"sum(CASE WHEN {k} THEN (c-1)*length(unit) END) AS {kind}_cn",
            f"sum(CASE WHEN {k} THEN c*length(unit) END) AS {kind}_cd",
        ]
    for n in TOP_NS:
        aggs.append(
            f"max(CASE WHEN kind = 'tok{n}' AND c > 1"
            f" THEN c*length(unit) END) AS top{n}"
        )
    for n in DUP_NS:
        aggs.append(
            f"sum(CASE WHEN kind = 'tok{n}' AND c > 1"
            f" THEN c*length(unit) END) AS dup{n}"
        )

    def frac(num: str, den: str) -> str:
        # DuckDB's least() skips NULLs (same as Spark's) — the missing-
        # numerator / zero-denominator case must short-circuit to 0.0
        # before least() or every absent signal would read 1.0
        return (
            f"CASE WHEN {num} IS NULL OR {den} IS NULL OR {den} = 0"
            f" THEN 0.0"
            f" ELSE least(round({num}::DOUBLE / {den}, 6), 1.0) END"
        )

    cols = {
        "dup_line_frac": frac("line_dn", "line_dd"),
        "dup_line_char_frac": frac("line_cn", "line_cd"),
        "dup_para_frac": frac("para_dn", "para_dd"),
        "dup_para_char_frac": frac("para_cn", "para_cd"),
    }
    for n in TOP_NS:
        cols[f"top_{n}gram_char_frac"] = frac(f"top{n}", "doc_chars")
    for n in DUP_NS:
        cols[f"dup_{n}gram_char_frac"] = frac(f"dup{n}", "doc_chars")
    col_sql = ",\n       ".join(f"{v} AS {k}" for k, v in cols.items())
    reason = "CASE " + " ".join(
        f"WHEN {cols[name]} > {thr} THEN '{name}'"
        for name, thr in GOPHER_THRESHOLDS.items()
    ) + " END"
    nl = chr(10)
    arms = nl.join(a + nl + "  UNION ALL" for a in ng_arms[:-1])
    return f"""{p}base AS (SELECT doc_id, length(text) AS doc_chars, text FROM {src}),
{p}toks AS (SELECT doc_id,
                list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> length(x) > 0) AS t
         FROM {p}base),
{p}units AS (
  SELECT doc_id, 'line' AS kind,
         unnest(list_filter(regexp_split_to_array(text, '\\n'),
                            x -> length(x) > 0)) AS unit
  FROM {p}base
  UNION ALL
  SELECT doc_id, 'para',
         unnest(list_filter(regexp_split_to_array(text, '\\n{{2,}}'),
                            x -> length(x) > 0))
  FROM {p}base
  UNION ALL
{arms}
{ng_arms[-1]}
),
{p}pu AS (SELECT doc_id, kind, unit, count(*) AS c FROM {p}units GROUP BY ALL),
{p}agg AS (SELECT doc_id, {", ".join(aggs)} FROM {p}pu GROUP BY doc_id),
{p}sig AS (
  SELECT {p}base.doc_id,
       {col_sql},
       {reason} AS reason
  FROM {p}base LEFT JOIN {p}agg USING (doc_id)
)"""


def _sql_rep_doctor(src: str = "documents") -> str:
    def esc(t: str) -> str:
        return "E'" + t.replace("\n", "\\n") + "'"

    return f"""SELECT doc_id,
         CASE
           WHEN doc_id % 7 = 0 THEN {esc(_REP_T0)}
           WHEN doc_id % 7 = 1 THEN {esc(_REP_T1)}
           WHEN doc_id % 7 = 2 THEN rtrim(repeat('ha ho ', 30))
           WHEN doc_id % 7 = 3 THEN '{_REP_T3}'
           ELSE text
         END AS text
  FROM {src}"""


def _sql_repetition() -> str:
    return f"""
WITH d AS (
  {_sql_rep_doctor()}
),
{_sql_repetition_ctes("d")}
SELECT * FROM rep_sig
"""


SQL_REPETITION = _sql_repetition()
# deferred: needs _PII_PLANTS and _sql_repetition_ctes above
SQL_PREPARE_FULL = _sql_prepare_full()


GENERIC_QUERIES = {
    "q_tpch_q1": q_tpch_q1,
    "q_group_merge_fold": q_group_merge_fold,
    "q_outer_join_align": q_outer_join_align,
    "q_dim_join_revenue": q_dim_join_revenue,
    "q_antisymmetry": q_antisymmetry,
    "q_two_hop": q_two_hop,
    "q_semi_anti": q_semi_anti,
    "q_degree_cap": q_degree_cap,
    "q_xref_parse": q_xref_parse,
    "q_topk_per_group": q_topk_per_group,
    "q_sessionize": q_sessionize,
    "q_pivot_status": q_pivot_status,
    "q_rollup_revenue": q_rollup_revenue,
    "q_dedup_exact": q_dedup_exact,
    "q_text_stats": q_text_stats,
    "q_stopword_ratio": q_stopword_ratio,
    "q_minhash_sigs": q_minhash_sigs,
    "q_minhash_clusters": q_minhash_clusters,
    "q_jaccard_pairs": q_jaccard_pairs,
    "q_lsh_pairs": q_lsh_pairs,
    "q_lsh_dropped": q_lsh_dropped,
    "q_simhash_pairs": q_simhash_pairs,
    "q_near_dedup": q_near_dedup,
    "q_near_dedup_r1": q_near_dedup_r1,
    "q_near_dedup_inc": q_near_dedup_inc,
    "q_near_dedup_sigs": q_near_dedup_sigs,
    "kg_stream_neardup": q_stream_neardup,
    "q_ann_ivf_add": q_ann_ivf_add,
    "q_literal_dict": q_literal_dict,
    "q_fingerprints": q_fingerprints,
    "q_token_quality": q_token_quality,
    "q_cos_neardup": q_cos_neardup,
    "q_split": q_split,
    "q_prepare_corpus": q_prepare_corpus,
    "q_quality_filter": q_quality_filter,
    "q_stratified_sample": q_stratified_sample,
    "q_pack_bins": q_pack_bins,
    "q_shingle_jaccard": q_shingle_jaccard,
    "q_lang_id": q_lang_id,
    "q_multimodal": q_multimodal,
    "q_multimodal_bmp": q_multimodal_bmp,
    "q_merge_tolerance": q_merge_tolerance,
    "q_stable_rank": q_stable_rank,
    "q_ann_topk": q_ann_topk,
    "q_ann_ivf": q_ann_ivf,
    "q_ann_ivf2": q_ann_ivf2,
    "q_ann_ivf2h": q_ann_ivf2h,
    "q_simhash": q_simhash,
    "q_embed_centroids": q_embed_centroids,
    "q_decontaminate": q_decontaminate,
    "q_repetition": q_repetition,
    "q_pii": q_pii,
    "q_prepare_full": q_prepare_full,
    "q_ann_pq": q_ann_pq,
    "q_ann_ivfpq": q_ann_ivfpq,
    "q_pack_sequences": q_pack_sequences,
}

GENERIC_ORACLES = {
    "q_tpch_q1": SQL_TPCH_Q1,
    "q_group_merge_fold": SQL_GROUP_MERGE_FOLD,
    "q_outer_join_align": SQL_OUTER_JOIN_ALIGN,
    "q_dim_join_revenue": SQL_DIM_JOIN_REVENUE,
    "q_antisymmetry": SQL_ANTISYMMETRY,
    "q_two_hop": SQL_TWO_HOP,
    "q_semi_anti": SQL_SEMI_ANTI,
    "q_degree_cap": SQL_DEGREE_CAP,
    "q_xref_parse": SQL_XREF_PARSE,
    "q_topk_per_group": SQL_TOPK_PER_GROUP,
    "q_sessionize": SQL_SESSIONIZE,
    "q_pivot_status": SQL_PIVOT_STATUS,
    "q_rollup_revenue": SQL_ROLLUP_REVENUE,
    "q_dedup_exact": SQL_DEDUP_EXACT,
    "q_text_stats": SQL_TEXT_STATS,
    "q_stopword_ratio": SQL_STOPWORD_RATIO,
    "q_minhash_sigs": SQL_MINHASH_SIGS,
    "q_minhash_clusters": SQL_MINHASH_CLUSTERS,
    "q_jaccard_pairs": SQL_JACCARD_PAIRS,
    "q_lsh_pairs": SQL_LSH_PAIRS,
    "q_lsh_dropped": SQL_LSH_DROPPED,
    "q_simhash_pairs": SQL_SIMHASH_PAIRS,
    "q_near_dedup": SQL_NEAR_DEDUP,
    "q_near_dedup_r1": SQL_NEAR_DEDUP_R1,
    "q_near_dedup_inc": SQL_NEAR_DEDUP_INC,
    "q_near_dedup_sigs": SQL_NEAR_DEDUP_INC,  # persisted-sigs path, same result
    "kg_stream_neardup": _sql_stream_neardup(),
    "q_literal_dict": SQL_LITERAL_DICT,
    "q_fingerprints": SQL_FINGERPRINTS,
    "q_token_quality": SQL_TOKEN_QUALITY,
    "q_cos_neardup": SQL_COS_NEARDUP,
    "q_split": SQL_SPLIT,
    "q_prepare_corpus": SQL_PREPARE_CORPUS,
    "q_quality_filter": SQL_QUALITY_FILTER,
    "q_stratified_sample": SQL_STRATIFIED_SAMPLE,
    "q_pack_bins": SQL_PACK_BINS,
    "q_shingle_jaccard": SQL_SHINGLE_JACCARD,
    "q_lang_id": SQL_LANG_ID,
    "q_multimodal": _sql_multimodal(),
    "q_multimodal_bmp": _sql_multimodal_bmp(),
    "q_merge_tolerance": SQL_MERGE_TOLERANCE,
    "q_stable_rank": SQL_STABLE_RANK,
    "q_ann_topk": SQL_ANN_TOPK,
    "q_ann_ivf": SQL_ANN_TOPK,  # full-probe IVF must equal exact brute force
    "q_ann_ivf_add": SQL_ANN_TOPK,  # grown index, full probe ≡ exact
    "q_ann_ivf2": SQL_ANN_TOPK,  # two-level full probe: same exactness bar
    "q_ann_ivf2h": SQL_ANN_TOPK,  # hierarchical probe, full coverage ≡ exact
    "q_simhash": SQL_SIMHASH,
    "q_embed_centroids": SQL_EMBED_CENTROIDS,
    "q_decontaminate": SQL_DECONTAMINATE,
    "q_repetition": SQL_REPETITION,
    "q_pii": SQL_PII,
    "q_prepare_full": SQL_PREPARE_FULL,
    "q_ann_pq": SQL_ANN_PQ,
    "q_ann_ivfpq": SQL_ANN_PQ,  # full probe: must equal pure PQ exactly
    "q_pack_sequences": SQL_PACK_SEQUENCES,
}
