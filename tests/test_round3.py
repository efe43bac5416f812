"""Round-3 hardening tests: ANSI-safe pydict extraction, simhash NULL-text
agreement with the oracle, IVF empty-cluster reseed, fresh-checkpoint epoch
hygiene, pack_greedy footgun guard."""

import pytest
from pyspark.sql import functions as F


def test_prop_first_empty_list_is_null_not_crash(spark):
    """{'xrefs': []} must yield NULL, not INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    (Spark 4 ANSI mode is on by default; the reference's extract_properties
    returns the empty value without crashing)."""
    from tcmkg.kernels.pydict import parse_literal_dict, prop_first, xref_ids

    rows = [
        (0, "{'xrefs': [], 'score': 3}"),          # empty list property
        (1, "{'xrefs': ['OMIM:1', 'OMIM'], 'score': 7}"),  # colon-less entry
        (2, None),
        (3, "{'xrefs': ['OMIM'], 'score': 1}"),    # ONLY a colon-less entry
    ]
    df = spark.createDataFrame(rows, "id long, props string")
    out = (
        df.select(
            "id",
            parse_literal_dict(F.col("props")).alias("p"),
        )
        .select(
            "id",
            prop_first(F.col("p"), "xrefs").alias("first_xref"),
            prop_first(F.col("p"), "score").alias("score"),
            xref_ids(F.col("p"), "OMIM").alias("omim"),
        )
        .collect()
    )
    by_id = {r["id"]: r for r in out}
    assert by_id[0]["first_xref"] is None      # empty array -> NULL, no crash
    assert by_id[0]["score"] == "3"
    assert by_id[0]["omim"] is None            # no matching xref entries
    assert by_id[1]["first_xref"] == "OMIM:1"
    # colon-less 'OMIM' entry matches the database prefix but has no suffix:
    # its NULL id is skipped by array_join, leaving the real one
    assert by_id[1]["omim"] == "1"
    assert by_id[2]["first_xref"] is None      # NULL cell stays NULL
    # a record whose ONLY matching entry is colon-less must be NULL, not ''
    # ('' would cross-link all such records in downstream equality joins)
    assert by_id[3]["omim"] is None


def test_simhash_null_text_never_buckets(spark):
    """NULL-text docs must not receive a signature from '' and join into
    buckets — the relational oracle (string_split(NULL) unnests to nothing)
    drops them, so the Spark path must too."""
    from tcmkg.ops.dedup import simhash_candidates, simhash_dropped_buckets

    rows = [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta epsilon"),
        (2, None),
        (3, None),  # two NULL docs: signing "" would pair them
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["a"], r["b"]) for r in
             simhash_candidates(df, "doc_id", "text", max_bucket=None).collect()}
    assert (2, 3) not in pairs
    ids = {i for p in pairs for i in p}
    assert ids <= {0, 1}
    assert simhash_dropped_buckets(df, "doc_id", "text").count() == 0


def test_ivf_empty_cluster_keeps_k(spark):
    """A Lloyd round that empties a cluster must not silently shrink k:
    the returned centroids table keeps n_centroids rows (empty cells retain
    their previous centroid)."""
    from tcmkg.ops.ann import build_ivf

    # seeds are the vectors of the 3 smallest ids; ids 0 and 1 are identical,
    # so every point strictly prefers cluster 0 or 2 and cluster 1 goes
    # empty in round one
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.9, 0.1, 0.0]),
        (4, [0.1, 0.9, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent, assign = build_ivf(df, "vec_id", "embedding", n_centroids=3, n_iter=3)
    assert cent.count() == 3                       # no silent shrink
    assert assign.count() == 5
    # every assignment still lands in a real cell
    cids = {r["cid"] for r in cent.collect()}
    assert {r["cid"] for r in assign.collect()} <= cids


def test_fresh_checkpoint_clears_stale_epochs(spark, tmp_path, pipeline, transcripts_pdf):
    """Reusing out_dir with a DELETED checkpoint restarts epoch ids at 0;
    stale higher-epoch partials from the prior lineage must not survive and
    double-count mentions."""
    import shutil

    from tcmkg.pipeline.triples import assemble_triples
    from tcmkg.streaming.ingest import incremental_mentions

    landing = tmp_path / "landing"
    landing.mkdir()
    kw = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    convs = sorted(transcripts_pdf.conv_id.unique())
    half = set(convs[: len(convs) // 2])
    transcripts_pdf[transcripts_pdf.conv_id.isin(half)].to_parquet(
        landing / "a.parquet", **kw)
    transcripts_pdf[~transcripts_pdf.conv_id.isin(half)].to_parquet(
        landing / "b.parquet", **kw)

    out, ckpt = str(tmp_path / "mentions"), str(tmp_path / "ckpt")
    q = incremental_mentions(spark, str(landing), out, ckpt, pipeline=pipeline)
    q.awaitTermination(240)
    want = sorted(
        (r["subj"], r["pred"], r["obj"], round(r["weight"] or 0.0, 9))
        for r in assemble_triples(spark.read.parquet(out)).collect()
    )

    # new lineage over the same out_dir: epochs restart at 0
    shutil.rmtree(ckpt)
    q2 = incremental_mentions(spark, str(landing), out, ckpt, pipeline=pipeline)
    q2.awaitTermination(240)
    got = sorted(
        (r["subj"], r["pred"], r["obj"], round(r["weight"] or 0.0, 9))
        for r in assemble_triples(spark.read.parquet(out)).collect()
    )
    assert got == want  # identical, not doubled


def test_near_dedup_composition(spark):
    """Corpus in → deduplicated corpus + removal map out, with bounded work
    on a planted boilerplate cluster: 500 identical docs route through
    exact_dedup (hash groupBy, one survivor), near-identical variants chain
    through candidates→verify→CC, and unrelated docs survive untouched."""
    from tcmkg.ops.dedup import near_dedup

    boiler = [(i, "lorem ipsum boilerplate footer text") for i in range(500)]
    near = [
        (1000, "alpha beta gamma delta epsilon zeta"),
        (1001, "alpha beta gamma delta epsilon eta"),      # near-dup of 1000
        (1002, "alpha beta gamma delta theta iota"),       # near-dup of 1000/1001
    ]
    distinct = [
        (2000, "spark shuffles partitions across cluster nodes"),
        (2001, "completely different content about query optimizers"),
    ]
    df = spark.createDataFrame(boiler + near + distinct, "doc_id long, text string")
    out = near_dedup(df, "doc_id", "text", max_bucket=64, threshold=0.5)

    removals = {r["removed_doc"]: (r["keep_doc"], r["via"]) for r in out["removals"].collect()}
    kept = {r["doc_id"] for r in out["kept"].collect()}

    # the 499 boilerplate copies collapse to doc 0 via the exact route —
    # without 500*499/2 candidate pairs ever materializing
    assert all(removals[i] == (0, "exact_hot_bucket") for i in range(1, 500))
    # the near-dup chain collapses transitively to min id 1000
    assert removals[1001][0] == 1000 and removals[1001][1] == "near"
    assert removals[1002][0] == 1000
    assert kept == {0, 1000, 2000, 2001}

    m = {r["metric"]: r["value"] for r in out["metrics"].collect()}
    assert m["n_docs"] == 505 and m["n_removed"] == 501
    assert m["n_dropped_buckets"] == 6          # the boilerplate bucket in
    # each band (identical text -> identical sig in ALL n_bands=6 default
    # bands, whatever rows_per_band is)
    assert m["n_hot_docs"] == 500
    assert m["n_candidate_pairs"] < 50          # bounded: no quadratic path


def test_ivf2_full_probe_equals_exact(spark):
    """Two-level IVF, all cells probed, must reproduce brute-force top-k —
    and its assign dataflow must never hash-shuffle the fact table."""
    import re

    from tcmkg.contract.generic import q_ann_ivf2, q_ann_topk
    from tcmkg.ops.ann import build_ivf2

    sf = "/root/testdata/sf0.001"
    exact = {(r["qid"], r["rk"], r["neighbor"]) for r in q_ann_topk(spark, sf).collect()}
    got = {(r["qid"], r["rk"], r["neighbor"]) for r in q_ann_ivf2(spark, sf).collect()}
    assert got == exact

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cent, assign = build_ivf2(emb, "vec_id", "embedding", n_coarse=3, n_sub=2, n_iter=2)
    assert cent.count() == 6                      # no silent cell shrink
    rows = assign.collect()
    assert len(rows) == emb.count()
    assert all(r["gid"] == r["cid"] * 2 + r["scid"] for r in rows)

    # the assign plan: zero data exchanges (two nearest-centroid maps)
    assign.count()
    plan = assign._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0


def test_two_hop_bucket_local(spark, pipeline, transcripts_df):
    """The 2-hop subj→obj→obj traversal over the materialized graph must
    (a) equal a plain DataFrame self-join of the triples and (b) plan ZERO
    data exchanges — hop 1 reads the obj-bucketed copy, hop 2 the
    subj-bucketed copy, so the join key is the bucket key on both sides."""
    import re

    triples = pipeline.triples(transcripts_df)
    pipeline.materialize_graph(triples)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        paths = pipeline.two_hop()
        got = {(r["a"], r["via"], r["b"], r["pred1"], r["pred2"])
               for r in paths.collect()}
        plan = paths._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    e1 = triples.select(F.col("subj").alias("a"), F.col("pred").alias("pred1"),
                        F.col("obj").alias("via"))
    e2 = triples.select(F.col("subj").alias("via"), F.col("pred").alias("pred2"),
                        F.col("obj").alias("b"))
    want = {(r["a"], r["via"], r["b"], r["pred1"], r["pred2"])
            for r in e1.join(e2, "via").collect()}
    assert got == want and got  # non-empty: herb→disease→disease chains exist


def _land_halves(tmp_path, transcripts_pdf):
    """Two arrival tranches, whole conversations per tranche."""
    landing = tmp_path / "landing"
    landing.mkdir()
    kw = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    convs = sorted(transcripts_pdf.conv_id.unique())
    half = set(convs[: len(convs) // 2])
    a = transcripts_pdf[transcripts_pdf.conv_id.isin(half)]
    b = transcripts_pdf[~transcripts_pdf.conv_id.isin(half)]
    return landing, a, b, kw


def test_run_incremental_two_tranches_equal_batch(
    spark, tmp_path, pipeline, golden_triples, transcripts_pdf
):
    """Two incremental runs over staggered arrivals must equal one batch
    run (and the oracle); a third run with no new files is a no-op; a
    crashed run's uncommitted tranche dir is never read, not double-counted."""
    import os
    import shutil

    from tcmkg.pipeline.checkpoints import CheckpointStore

    landing, a, b, kw = _land_halves(tmp_path, transcripts_pdf)
    ckpt = str(tmp_path / "ckpt")

    a.to_parquet(landing / "arrival_0.parquet", **kw)
    out1 = pipeline.run_incremental(str(landing), ckpt)
    assert out1["n_new_files"] == 1

    b.to_parquet(landing / "arrival_1.parquet", **kw)
    out2 = pipeline.run_incremental(str(landing), ckpt)
    assert out2["n_new_files"] == 1
    got = {(r["subj"], r["pred"], r["obj"]) for r in out2["triples"].collect()}
    want = {(s, p, o) for s, p, o, _ in golden_triples}
    assert got == want

    # no new files -> nothing recomputed, identical result
    out3 = pipeline.run_incremental(str(landing), ckpt)
    assert out3["n_new_files"] == 0
    assert {(r["subj"], r["pred"], r["obj"])
            for r in out3["triples"].collect()} == want

    # kill-between-tranches: a tranche dir WITHOUT a manifest entry (not
    # published by the store) must not be read, and the replayed run must
    # land the same totals — not doubled
    stale = os.path.join(ckpt, "mention_tranches", "tranche=deadbeef")
    committed = os.path.join(ckpt, "mention_tranches")
    src = next(d for d in os.listdir(committed) if d.startswith("tranche="))
    shutil.copytree(os.path.join(committed, src), stale)
    out4 = pipeline.run_incremental(str(landing), ckpt)
    keys = {r["tranche"] for r in out4["mentions"].select("tranche").distinct().collect()}
    assert keys == set(CheckpointStore(committed).partitions("tranche"))
    assert len(keys) == 2 and "deadbeef" not in keys
    assert {(r["subj"], r["pred"], r["obj"])
            for r in out4["triples"].collect()} == want
    # weights prove no double-count (n/amt_sum inflation would skew them)
    w4 = {(r["subj"], r["obj"]): round(r["weight"] or 0.0, 9)
          for r in out4["triples"].filter(F.col("pred") == "formula_contains_herb").collect()}
    w2 = {(r["subj"], r["obj"]): round(r["weight"] or 0.0, 9)
          for r in out2["triples"].filter(F.col("pred") == "formula_contains_herb").collect()}
    assert w4 == w2


def test_run_incremental_tranche_key_stays_string(
    spark, tmp_path, pipeline, transcripts_pdf, monkeypatch
):
    """A tranche key that is all decimal digits reads back as the same
    string, leading zero included (partition-type inference would turn
    it into the number 123456789012345)."""
    from tcmkg.pipeline import runner

    landing, a, _, kw = _land_halves(tmp_path, transcripts_pdf)
    a.to_parquet(landing / "arrival_0.parquet", **kw)
    monkeypatch.setattr(runner, "_tranche_key", lambda files: "0123456789012345")
    out = pipeline.run_incremental(str(landing), str(tmp_path / "ckpt"))
    keys = [r["tranche"] for r in out["mentions"].select("tranche").distinct().collect()]
    assert keys == ["0123456789012345"]


def test_ivf2_hierarchical_search(spark):
    """ivf2_search probes coarse cells then sub-cells: covering every cell
    must reproduce exact brute force; a partial probe returns a subset of
    the corpus ranking with usable recall on this data."""
    from tcmkg.contract.generic import q_ann_topk
    from tcmkg.ops.ann import _as_double, build_ivf2, ivf2_search

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") >= 5)
    cent, assign = build_ivf2(corpus, "vec_id", "embedding",
                              n_coarse=2, n_sub=2, n_iter=2)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv")
    )
    exact = {(r["qid"], r["rk"], r["neighbor"])
             for r in q_ann_topk(spark, sf).collect()}
    full = {(r["qid"], r["rk"], r["neighbor"])
            for r in ivf2_search(q, corpus, cent, assign, "vec_id", "embedding",
                                 n_coarse_probe=2, nprobe=4).collect()}
    assert full == exact

    part = ivf2_search(q, corpus, cent, assign, "vec_id", "embedding",
                       n_coarse_probe=1, nprobe=2).collect()
    got = {(r["qid"], r["neighbor"]) for r in part}
    want = {(a, c) for a, _, c in exact}
    # partial probe: every query answered, recall >= 0.5 of exact top-3
    assert {r["qid"] for r in part} == {r[0] for r in exact}
    assert len(got & want) / len(want) >= 0.5


def test_pack_greedy_warns_without_shard(spark):
    from tcmkg.ops.sampling import pack_greedy

    df = spark.createDataFrame([(i, 10) for i in range(20)], "id long, sz long")
    with pytest.warns(UserWarning, match="SINGLE-PARTITION"):
        packed = pack_greedy(df, "id", F.col("sz"), budget=50)
    assert packed.count() == 20

    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # sharded path must stay silent
        packed = pack_greedy(
            df, "id", F.col("sz"), budget=50, shard_col=(F.col("id") % 2)
        )
    assert packed.count() == 20


def test_quality_filter_composition(spark):
    """kept/removed/metrics split with deterministic reason precedence:
    the FIRST failing rule in fixed order wins."""
    from tcmkg.ops.quality import quality_filter

    rows = [
        (0, "the quick brown fox jumps over the lazy dog entirely"),  # kept
        (1, "tiny"),                                                  # too_short
        (2, "!?" * 40),                                # too_much_punct
        (3, ("word " * 30).strip()),                   # no_stopwords
        (4, ("the " * 30).strip()),                    # too_repetitive
        (5, "x " + "!?" * 20),                         # punct AND no-stop -> punct wins
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = quality_filter(df, "doc_id", "text")
    removed = {r["doc_id"]: r["reason"] for r in out["removed"].collect()}
    assert {r["doc_id"] for r in out["kept"].collect()} == {0}
    assert removed == {
        1: "too_short", 2: "too_much_punct", 3: "no_stopwords",
        4: "too_repetitive", 5: "too_much_punct",
    }
    metrics = {r["reason"]: r["n"] for r in out["metrics"].collect()}
    assert metrics == {"too_short": 1, "too_much_punct": 2,
                       "no_stopwords": 1, "too_repetitive": 1}


def test_stratified_sample_deterministic(spark):
    """Per-stratum hash sampling is stable across repartitionings and
    re-executions (the property rand-based sampleBy lacks), and respects
    per-stratum fractions within tolerance."""
    from tcmkg.ops.sampling import stratified_sample_by_hash

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, s string")
    frac = {"a": 0.5, "b": 0.1}
    got1 = {r["k"] for r in stratified_sample_by_hash(df, "k", "s", frac).collect()}
    got2 = {r["k"] for r in
            stratified_sample_by_hash(df.repartition(13), "k", "s", frac).collect()}
    assert got1 == got2                       # partitioning-independent
    n_a = sum(1 for k in got1 if k % 2 == 0)
    n_b = sum(1 for k in got1 if k % 2 == 1)
    assert abs(n_a / 1000 - 0.5) < 0.08
    assert abs(n_b / 1000 - 0.1) < 0.05
    # default fraction 0.0: an unlisted stratum contributes nothing
    df2 = df.withColumn("s", F.lit("zzz"))
    assert stratified_sample_by_hash(df2, "k", "s", frac).count() == 0


def test_near_dedup_shingle_verification(spark):
    """verify='shingle' is order-sensitive: reordered boilerplate shares
    the full token SET (token-mode Jaccard 1.0) but few char n-grams, so
    the shingle mode keeps both docs while token mode collapses them."""
    from tcmkg.ops.dedup import near_dedup, pair_jaccard

    rows = [
        (0, "a b c d e f g h"),
        (1, "h g f e d c b a"),   # same token SET, fully reordered
        (2, "a b c d e f g x"),   # near-verbatim of 0 (one char differs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    tok = near_dedup(df, "doc_id", "text", threshold=0.5, verify="token")
    assert {r["removed_doc"] for r in tok["removals"].collect()} >= {1}

    sh = near_dedup(df, "doc_id", "text", threshold=0.5, verify="shingle")
    removed = {r["removed_doc"] for r in sh["removals"].collect()}
    assert 1 not in removed                      # reordered doc survives
    assert 2 in removed                          # near-verbatim still dies

    pairs = spark.createDataFrame([(0, 1)], "a long, b long")
    j_tok = pair_jaccard(pairs, df, "doc_id", "text", mode="token").collect()[0]["jaccard"]
    j_sh = pair_jaccard(pairs, df, "doc_id", "text", mode="shingle").collect()[0]["jaccard"]
    assert j_tok == 1.0 and j_sh < 0.5  # 0.3 vs 1.0: order matters


def test_ivf2_index_persistence(spark, tmp_path):
    """Two-level index round-trips through CheckpointStore via its
    flattened shape: build once, reload in a 'later session', full-probe
    search over the reloaded index still equals exact brute force."""
    from tcmkg.contract.generic import q_ann_topk
    from tcmkg.ops.ann import (
        _as_double, build_ivf2, flatten_ivf2, ivf_search, load_ivf, save_ivf,
    )
    from tcmkg.pipeline.checkpoints import CheckpointStore

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") >= 5)
    cent, assign = flatten_ivf2(
        *build_ivf2(corpus, "vec_id", "embedding", n_coarse=2, n_sub=2, n_iter=2)
    )
    store = CheckpointStore(str(tmp_path / "ivf2"))
    save_ivf(store, cent, assign, prefix="ivf2")
    cent2, assign2 = load_ivf(spark, store, prefix="ivf2")

    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv")
    )
    got = {(r["qid"], r["rk"], r["neighbor"])
           for r in ivf_search(q, corpus, cent2, assign2, "vec_id", "embedding",
                               nprobe=4, topk=3).collect()}
    exact = {(r["qid"], r["rk"], r["neighbor"])
             for r in q_ann_topk(spark, sf).collect()}
    assert got == exact


def _near_dedup_model(docs, n_bands, max_bucket, threshold, rows_per_band=1):
    """Independent pure-Python model of the WHOLE near_dedup chain
    (md5-band minhash incl. multi-row bands, bucket cap, pair Jaccard w/
    Spark's HALF_UP round, exact hot-bucket routing, union-find closure) —
    no Spark, no shared code with ops/dedup.py."""
    import hashlib
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    buckets = defaultdict(list)
    for d, text in docs.items():
        toks = set(text.split(" "))
        for b in range(n_bands):
            if rows_per_band == 1:
                sig = min(md5(f"{b}:{t}") for t in toks)
            else:
                sig = md5("".join(
                    min(md5(f"{b}:{r}:{t}") for t in toks)
                    for r in range(rows_per_band)
                ))
            buckets[(b, sig)].append(d)
    hot = {k for k, v in buckets.items() if len(v) > max_bucket}
    pairs = set()
    for k, v in buckets.items():
        if k in hot:
            continue
        v = sorted(v)
        pairs |= {(v[i], v[j]) for i in range(len(v)) for j in range(i + 1, len(v))}

    def jac(a, b):
        ta, tb = set(docs[a].split(" ")), set(docs[b].split(" "))
        q = Decimal(len(ta & tb)) / Decimal(len(ta | tb))
        return float(q.quantize(Decimal("0.000001"), ROUND_HALF_UP))

    edges = {(a, b) for a, b in pairs if jac(a, b) >= threshold}
    hotdocs = {d for k in hot for d in buckets[k]}
    byhash = defaultdict(list)
    for d in hotdocs:
        byhash[md5(docs[d])].append(d)
    exact_removed = set()
    for v in byhash.values():
        keep = min(v)
        for d in v:
            if d != keep:
                edges.add((keep, d))
                exact_removed.add(d)

    parent = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    comp = {d: find(d) for e in edges for d in e}
    return {
        d: (c, "exact_hot_bucket" if d in exact_removed else "near")
        for d, c in comp.items()
        if d != c
    }


@pytest.mark.parametrize("banding", [None, (4, 1), (6, 2)])
def test_near_dedup_differential_model(spark, banding):
    """Spark near_dedup vs the independent model on a seeded random corpus
    that exercises every path at once: a hot identical-boilerplate cluster
    (exact route), overlapping near-dup chains (verify + CC transitivity),
    and unique filler (survivors). Runs in three regimes: the LIBRARY
    DEFAULTS (banding=None — must equal the model at b=6/r=2, proving the
    defaults ARE the scale-safe regime), the legacy single-row regime, and
    the default regime spelled explicitly."""
    import random

    from tcmkg.ops.dedup import near_dedup

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    docs = {}
    for d in range(20):                       # hot boilerplate, identical
        docs[d] = "footer legal boilerplate text line"
    base = rng.sample(vocab, 6)
    for i in range(8):                        # chain: each drifts one token
        docs[100 + i] = " ".join(base[: 6 - 1] + [f"drift{i}"])
    for d in range(200, 230):                 # unique filler
        docs[d] = " ".join(rng.sample(vocab, rng.randint(3, 6)))

    df = spark.createDataFrame(sorted(docs.items()), "doc_id long, text string")
    kw = {} if banding is None else {
        "n_bands": banding[0], "rows_per_band": banding[1]
    }
    out = near_dedup(df, "doc_id", "text", max_bucket=8, threshold=0.5, **kw)
    got = {r["removed_doc"]: (r["keep_doc"], r["via"])
           for r in out["removals"].collect()}
    nb, rpb = banding or (6, 2)  # defaults MUST be the scale-safe regime
    want = _near_dedup_model(docs, n_bands=nb, max_bucket=8, threshold=0.5,
                             rows_per_band=rpb)
    assert got == want
    assert any(v[1] == "exact_hot_bucket" for v in want.values())  # both
    assert any(v[1] == "near" for v in want.values())              # paths hit


def test_near_dedup_incremental(spark):
    """New arrivals dedup against an immutable seen corpus: new-vs-seen
    and new-vs-new duplicates are removed (survivor = corpus doc / lowest
    new id), seen docs are never removed, and seen-vs-seen candidate pairs
    are excluded from verification (the incremental saving)."""
    from tcmkg.ops.dedup import near_dedup, near_dedup_incremental

    # seen: deduped, but docs 10/11 share a bucket while staying below the
    # 0.5 threshold — a seen-seen candidate a full re-run would re-verify.
    # 't36' md5-hashes below every other token in BOTH rows of band 4 under
    # the default b=6/r=2 keying (brute-forced offline), so both docs carry
    # the same band-4 signature.
    seen_rows = [
        (10, "t36 alpha beta gamma delta epsilon zeta"),
        (11, "t36 unrelated filler words here now indeed"),
        (12, "spark shuffles partitions across cluster nodes"),
    ]
    new_rows = [
        (100, "t36 alpha beta gamma delta epsilon eta"),  # near-dup of seen 10
        (101, "spark shuffles partitions across cluster nodes"),  # exact dup of 12
        (102, "completely fresh unique content today"),
        (103, "completely fresh unique content today respun"),  # near-dup of 102
    ]
    seen = spark.createDataFrame(seen_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    out = near_dedup_incremental(seen, new, "doc_id", "text", threshold=0.5)
    removals = {r["removed_doc"]: r["keep_doc"] for r in out["removals"].collect()}
    assert removals[100] == 10       # resolves to the corpus doc
    assert removals[101] == 12       # exact dup of corpus doc
    assert removals[103] == 102      # within-new dup keeps lowest new id
    assert set(removals) == {100, 101, 103}
    assert {r["doc_id"] for r in out["kept_new"].collect()} == {102}

    # incremental verifies strictly fewer candidates than a full union run
    # (the seen-seen 10-11 candidate is excluded)
    m_inc = {r["metric"]: r["value"] for r in out["metrics"].collect()}
    full = near_dedup(seen.unionByName(new), "doc_id", "text", threshold=0.5)
    m_full = {r["metric"]: r["value"] for r in full["metrics"].collect()}
    assert m_inc["n_candidate_pairs"] < m_full["n_candidate_pairs"]

    # precondition: overlapping id ranges must be rejected loudly
    bad_new = spark.createDataFrame([(5, "x y z")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max.seen id."):
        near_dedup_incremental(seen, bad_new, "doc_id", "text")


def test_prepare_corpus_holdout_excluded(spark):
    """fractions summing to < 1: the unassigned remainder must come back
    as `holdout`, NOT land in the packed corpus under a split-less shard."""
    from tcmkg.ops.prepare import prepare_corpus

    rows = [(i, f"the u{i}a u{i}b u{i}c u{i}d u{i}e distinct") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = prepare_corpus(df, "doc_id", "text",
                         fractions={"train": 0.5}, budget=100)
    corpus_ids = {r["doc_id"] for r in out["corpus"].collect()}
    holdout_ids = {r["doc_id"] for r in out["holdout"].collect()}
    assert corpus_ids and holdout_ids
    assert not corpus_ids & holdout_ids
    # near-dedup may only remove true dups (there are none here)
    assert corpus_ids | holdout_ids == set(range(200))  # nothing lost
    assert all(r["shard"].startswith("train|") for r in out["corpus"].collect())
    m = {r["metric"]: r["value"] for r in out["metrics"].collect()}
    assert m["n_holdout"] == len(holdout_ids)


def test_near_dedup_string_ids(spark):
    """The dedup chain is id-type agnostic: string doc ids flow through
    signatures, the exact route, CC min-survivorship (lexicographic), and
    the removal map without numeric assumptions."""
    from tcmkg.ops.dedup import near_dedup

    rows = [
        ("doc-a", "alpha beta gamma delta epsilon"),
        ("doc-b", "alpha beta gamma delta epsilon"),   # exact dup -> keep doc-a
        ("doc-c", "alpha beta gamma delta zeta"),      # near dup of a/b
        ("doc-z", "totally different content entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = near_dedup(df, "doc_id", "text", threshold=0.5)
    removals = {r["removed_doc"]: r["keep_doc"] for r in out["removals"].collect()}
    assert removals == {"doc-b": "doc-a", "doc-c": "doc-a"}
    assert {r["doc_id"] for r in out["kept"].collect()} == {"doc-a", "doc-z"}
