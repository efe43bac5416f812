"""Tests: dedup family (minhash/simhash/exact), IVF ANN, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog today"),      # near dup
        (3, "spark shuffles partitions across the cluster nodes"),
        (4, "completely different content about query optimizers"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    from tcmkg.ops.dedup import exact_dedup

    out = exact_dedup(docs, "doc_id", "text").collect()
    groups = {r["keep_doc"]: r["n_docs"] for r in out}
    assert groups[0] == 2  # docs 0 and 1 collapse, survivor = min id
    assert len(out) == 4


def test_minhash_lsh(spark, docs):
    from tcmkg.ops.dedup import lsh_candidate_pairs, minhash_signatures

    # pinned to the single-row regime: the (0,2) assertion is about r=1
    # min-token sharing specifically (the b=6/r=2 DEFAULT is covered by
    # test_near_dedup_differential_model's default-regime case)
    sigs = minhash_signatures(docs, "doc_id", "text", n_bands=4, rows_per_band=1)
    assert sigs.groupBy("id").count().filter(F.col("count") != 4).count() == 0
    pairs = {(r["a"], r["b"]) for r in lsh_candidate_pairs(sigs).collect()}
    assert (0, 1) in pairs            # exact dups always collide
    assert (0, 2) in pairs            # near dup shares min-token per band here
    assert (3, 4) not in pairs        # unrelated docs must not collide


def test_simhash(spark, docs):
    from tcmkg.ops.dedup import _simhash_batch, simhash_candidates
    import pandas as pd

    # deterministic + identical text -> identical hash
    h = _simhash_batch(pd.Series(["a b c", "a b c", "x y z"]))
    assert h[0] == h[1] != h[2]
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             simhash_candidates(docs, "doc_id", "text").collect()}
    assert pairs[(0, 1)] == 0          # exact dup: zero Hamming distance
    assert (0, 2) in pairs             # near dup collides on some band
    assert pairs[(0, 2)] <= 16


def test_lsh_degenerate_bucket_capped(spark):
    """A planted degenerate bucket (many identical boilerplate docs) must
    NOT go quadratic: with the cap active the pair count is bounded by the
    healthy docs, and the dropped-buckets metric reports exactly what was
    excluded (no silent caps)."""
    from tcmkg.ops.dedup import (
        lsh_candidate_pairs,
        lsh_dropped_buckets,
        minhash_signatures,
    )

    boiler = [(i, "lorem ipsum boilerplate footer text") for i in range(500)]
    real = [(1000, "alpha beta gamma delta"), (1001, "alpha beta gamma delta epsilon")]
    df = spark.createDataFrame(boiler + real, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text", n_bands=4, rows_per_band=1)

    pairs = lsh_candidate_pairs(sigs, max_bucket=64).collect()
    ids = {r["a"] for r in pairs} | {r["b"] for r in pairs}
    assert ids <= {1000, 1001}  # 500*499/2 boilerplate pairs never materialize
    assert (1000, 1001) in {(r["a"], r["b"]) for r in pairs}

    dropped = lsh_dropped_buckets(sigs, max_bucket=64).collect()
    assert len(dropped) == 4  # the boilerplate bucket in each of 4 bands
    assert all(r["n_docs"] == 500 for r in dropped)

    # uncapped keeps everything (the old behavior stays reachable)
    n_uncapped = lsh_candidate_pairs(sigs, max_bucket=None).count()
    assert n_uncapped == 500 * 499 // 2 + 1


def test_simhash_degenerate_bucket_capped(spark):
    from tcmkg.ops.dedup import simhash_candidates, simhash_dropped_buckets

    boiler = [(i, "lorem ipsum boilerplate footer text") for i in range(300)]
    real = [(1000, "alpha beta gamma delta"), (1001, "alpha beta gamma delta epsilon")]
    df = spark.createDataFrame(boiler + real, "doc_id long, text string")

    pairs = simhash_candidates(df, "doc_id", "text", max_bucket=64).collect()
    ids = {r["a"] for r in pairs} | {r["b"] for r in pairs}
    assert 0 not in ids  # boilerplate bucket excluded
    dropped = simhash_dropped_buckets(df, "doc_id", "text", max_bucket=64).collect()
    assert dropped and all(r["n_docs"] >= 300 for r in dropped)


def test_jaccard_df_guard(spark):
    """A stopword-like token shared by every doc must not create a hot join
    key; informative tokens still pair the true near-dups."""
    from tcmkg.ops.dedup import jaccard_dropped_tokens, jaccard_pairs

    rows = [(i, f"common uniq{i} tail{i}") for i in range(200)]
    rows += [(1000, "common alpha beta gamma"), (1001, "common alpha beta gamma")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {(r["doc_id"], r["doc_b"]): r["jaccard"]
             for r in jaccard_pairs(df, "doc_id", "text", 0.5, max_df=100).collect()}
    # 'common' (DF=202) is dropped: the 200 filler docs share nothing else
    assert set(pairs) == {(1000, 1001)}
    assert pairs[(1000, 1001)] == 1.0  # over informative tokens only

    dropped = jaccard_dropped_tokens(df, "doc_id", "text", max_df=100).collect()
    assert {(r["tok"], r["n_docs"]) for r in dropped} == {("common", 202)}


def test_ivf_exact_when_full_probe(spark):
    """nprobe == n_centroids degenerates to exact brute force."""
    from tcmkg.contract.generic import q_ann_topk
    from tcmkg.ops.ann import build_ivf, ivf_search, _as_double

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cent, assign = build_ivf(emb.filter(F.col("vec_id") >= 5), "vec_id", "embedding",
                             n_centroids=4, n_iter=3)
    queries = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv"))
    )
    got = ivf_search(queries, emb.filter(F.col("vec_id") >= 5), cent, assign,
                     "vec_id", "embedding", nprobe=4, topk=3)
    want = q_ann_topk(spark, sf)
    g = {(r["qid"], r["rk"]): r["neighbor"] for r in got.collect()}
    w = {(r["qid"], r["rk"]): r["neighbor"] for r in want.collect()}
    assert g == w


def test_ivf_recall_at_small_probe(spark):
    from tcmkg.contract.generic import q_ann_topk
    from tcmkg.ops.ann import build_ivf, ivf_search, _as_double

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 5)
    cent, assign = build_ivf(corpus, "vec_id", "embedding", n_centroids=8, n_iter=3)
    queries = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv"))
    )
    got = ivf_search(queries, corpus, cent, assign, "vec_id", "embedding", nprobe=3, topk=3)
    g = {(r["qid"], r["rk"]): r["neighbor"] for r in got.collect()}
    w = {(r["qid"], r["rk"]): r["neighbor"] for r in q_ann_topk(spark, sf).collect()}
    hits = sum(1 for k, v in w.items() if g.get(k) == v or v in
               {g.get((k[0], r)) for r in (1, 2, 3)})
    assert hits / len(w) >= 0.5  # IVF recall trade at nprobe=3/8


def test_multimodal_plumbing(spark):
    from tcmkg.ops.multimodal import (
        decode_features,
        resize_images,
        sample_frames,
        synth_media,
        FEATURE_DIM,
    )

    media = synth_media(spark, 30)
    assert media.count() == 30

    feats = decode_features(media).collect()
    assert len(feats) == 30
    assert all(len(r["features"]) == FEATURE_DIM for r in feats)
    # deterministic across runs
    feats2 = {r["doc_id"]: r["features"] for r in decode_features(media).collect()}
    for r in feats:
        assert feats2[r["doc_id"]] == r["features"]

    resized = resize_images(media, 32, 32)
    rows = {r["doc_id"]: r for r in resized.collect()}
    img = next(r for r in rows.values() if r["modality"] == "image")
    assert img["meta"]["width"] == 32 and img["meta"]["height"] == 32
    aud = next(r for r in rows.values() if r["modality"] == "audio")
    assert aud["meta"]["sample_rate"] == 16000  # non-images untouched

    frames = sample_frames(media, every=2).collect()
    assert frames, "video rows must expand to frames"
    vids = {r["doc_id"] for r in frames}
    n_frames = {r["doc_id"]: r["meta"]["n_frames"] for r in media.collect()
                if r["modality"] == "video"}
    for did, nf in n_frames.items():
        got = sorted(r["frame"] for r in frames if r["doc_id"] == did)
        assert got == list(range(0, nf, 2))
    assert vids == set(n_frames)


def test_multimodal_real_codec_gated(spark):
    """The non-fake decode path must fail loudly (codec libs absent)."""
    from tcmkg.ops.multimodal import decode_features, synth_media

    media = synth_media(spark, 3)
    with pytest.raises(Exception):
        decode_features(media, fake_decode=False).collect()


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Bucketing co-locates join keys: the bucketed SMJ plans ZERO data
    exchanges where the plain join needs two (SURVEY §4 partitioning row).
    Broadcast is disabled for the probe so the join strategy is honest."""
    import re
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")
        # the in-memory catalog forgets tables between sessions but the
        # managed-table dirs persist; clear them so saveAsTable can recreate
        import shutil
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for t in ("li_b", "o_b"):
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("li_b")
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("o_b")

        def n_exchanges(df):
            df.count()
            plan = df._jdf.queryExecution().executedPlan().toString()
            return len(re.findall(r"Exchange hashpartitioning", plan))

        bucketed = spark.table("li_b").join(
            spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plain = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        assert n_exchanges(bucketed) == 0
        assert n_exchanges(plain) == 2
        assert bucketed.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_encoder_and_codec_injection(spark):
    """The advertised swap points are real dependencies, not module
    constants: injecting a different encoder/decoder changes outputs but
    not schemas or operator shapes."""
    import numpy as np
    import pandas as pd

    # --- text embedding encoder (similarity.make_embed_udf)
    from tcmkg.ops.similarity import EMBED_DIM, make_embed_udf

    def toy_encoder(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [[float(len(t or ""))] + [0.0] * (EMBED_DIM - 1) for t in texts]
        )

    df = spark.createDataFrame([(1, "ab"), (2, "abcd")], "id long, txt string")
    default = df.withColumn("v", make_embed_udf()(F.col("txt")))
    swapped = df.withColumn("v", make_embed_udf(toy_encoder)(F.col("txt")))
    assert default.schema == swapped.schema
    sv = {r["id"]: r["v"] for r in swapped.collect()}
    assert sv[1][0] == 2.0 and sv[2][0] == 4.0
    assert {r["id"]: r["v"] for r in default.collect()} != sv

    # --- soft-link name encoder (both sides swap together)
    from tcmkg.pipeline.linking import soft_link

    def name_enc(names, dim=8):
        out = np.zeros((len(names), dim))
        for i, s in enumerate(names):
            out[i, len(s or "") % dim] = 1.0
        return out

    toks = spark.createDataFrame([("abc",)], "token string")
    linked = soft_link(
        spark, toks, {"xyz": "H1", "ab": "H2"}, threshold=0.9, encoder=name_enc
    )
    got = {r["token"]: r["canonical_id"] for r in linked.collect()}
    assert got == {"abc": "H1"}  # length-3 token matches the length-3 alias

    # --- multimodal codec
    from tcmkg.ops.multimodal import FEATURE_DIM, decode_features, synth_media

    media = synth_media(spark, 6)

    def const_decoder(blob: bytes) -> np.ndarray:
        return np.full((4, 4), float(len(blob)))

    out = decode_features(media, decoder=const_decoder)
    fake = decode_features(media)
    assert out.schema == fake.schema
    orows = out.collect()
    assert all(len(r["features"]) == FEATURE_DIM for r in orows)
    assert {tuple(r["features"]) for r in orows} != {
        tuple(r["features"]) for r in fake.collect()
    }


def test_winnow_fingerprints(spark):
    """Winnowing guarantee: documents sharing a long substring share a
    fingerprint; short/degenerate docs produce no rows instead of errors;
    ubiquitous fingerprints are capped out of the candidate join."""
    from tcmkg.ops.fingerprint import fingerprint_candidates, winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (0, "PREFIX0 " + shared + " SUFFIX0"),
        (1, "PREFIXONE " + shared + " SUFFIXONE"),
        (2, "completely unrelated content with nothing in common here"),
        (3, "short"),                      # < k chars: no grams
        (4, "elevenchars"),                # grams but < window of them? (11-8+1=4 -> ok)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, "doc_id", "text", k=8, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert 3 not in by_doc                     # too short -> no fingerprints
    assert by_doc[0] & by_doc[1]               # long shared substring -> shared fp
    assert not (by_doc[0] & by_doc[2])         # unrelated docs don't collide

    pairs = {(r["a"], r["b"]) for r in fingerprint_candidates(fps).collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs

    # cap: a fingerprint shared by every doc must not pair everything
    boiler = [(i, "z" * 40) for i in range(300)]
    bfps = winnow_fingerprints(
        spark.createDataFrame(boiler, "doc_id long, text string"),
        "doc_id", "text", k=8, window=4,
    )
    assert fingerprint_candidates(bfps, max_bucket=64).count() == 0


def test_cell_blocked_neardup_subset_of_exact(spark):
    """IVF-cell-blocked near-dup pairs are a subset of the exact all-pairs
    result (the blocking trades recall, never precision)."""
    from tcmkg.ops.ann import build_ivf
    from tcmkg.ops.similarity import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r["a"], r["b"]) for r in
             embedding_neardup_pairs(emb, "vec_id", "embedding", 0.2).collect()}
    _, assign = build_ivf(emb, "vec_id", "embedding", n_centroids=4, n_iter=2)
    blocked = {(r["a"], r["b"]) for r in
               embedding_neardup_pairs(emb, "vec_id", "embedding", 0.2,
                                       assignments=assign).collect()}
    assert blocked <= exact
    assert blocked  # same-cell near neighbors are found


def test_split_and_pack(spark):
    from tcmkg.ops.sampling import pack_greedy, split_by_hash

    df = spark.range(10_000).withColumnRenamed("id", "k")
    s = split_by_hash(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 10_000 - 0.8) < 0.02
    assert abs(counts["val"] / 10_000 - 0.1) < 0.01
    # deterministic: same assignment on recompute and under repartitioning
    s2 = split_by_hash(df.repartition(7), "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert s.select("k", "split").subtract(s2.select("k", "split")).count() == 0
    # salt decorrelates
    s3 = split_by_hash(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="x")
    assert s.select("k", "split").subtract(s3.select("k", "split")).count() > 0

    sized = df.withColumn("sz", (F.col("k") % 97 + 1).cast("long"))
    packed = pack_greedy(sized, "k", F.col("sz"), budget=1000)
    stats = packed.groupBy("bin").agg(F.sum("sz").alias("tok")).collect()
    # prefix-sum chunking: every bin except possibly the last holds
    # >= budget - max_size + 1 and < budget + max_size tokens
    toks = {r["bin"]: r["tok"] for r in stats}
    last = max(toks)
    for b, t in toks.items():
        assert t < 1000 + 97
        if b != last:
            assert t > 1000 - 97


def test_ivf_zero_vector_stays_reachable(spark):
    """A zero-norm embedding (NaN cosine to every centroid) must still get
    a real cell assignment (cell of the first centroid), not vanish."""
    from tcmkg.ops.ann import build_ivf

    rows = [(i, [float(i % 3 + 1), float(i % 5)]) for i in range(10, 18)]
    rows.append((99, [0.0, 0.0]))  # degenerate
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent, assign = build_ivf(emb, "vec_id", "embedding", n_centroids=3, n_iter=2)
    cids = {r["id"]: r["cid"] for r in assign.collect()}
    valid = {r["cid"] for r in cent.collect()}
    assert 99 in cids and cids[99] in valid


def test_ivf_search_skips_degenerate_vectors(spark):
    """A zero vector and a NULL embedding have no cosine: full-probe
    ivf_search and ivf2_search never return them, their top-k equals a
    numpy brute force over the real vectors, and the row-wise cosine
    reaches Spark as NULL — a NaN would sort above every double and take
    rank 1 in the desc top-k window."""
    from tcmkg.kernels.vec import cosine_udf
    from tcmkg.ops.ann import _as_double, build_ivf, build_ivf2, ivf2_search, ivf_search

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    real = e.filter(F.col("vec_id") >= 5)
    degenerate = spark.createDataFrame(
        [(10_000, [0.0] * 64, 0), (10_001, None, 0)], real.schema
    )
    corpus = real.unionByName(degenerate)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv")
    )

    rows = real.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    want = set()
    for r in q.collect():
        qv = np.array(r["qv"]) / np.linalg.norm(r["qv"])
        order = np.lexsort((ids, -(V @ qv)))[:3]  # cos desc, then id
        want |= {(r["qid"], rk + 1, int(ids[i])) for rk, i in enumerate(order)}

    cent, assign = build_ivf(corpus, "vec_id", "embedding", n_centroids=4, n_iter=2)
    flat = ivf_search(q, corpus, cent, assign, "vec_id", "embedding", nprobe=4, topk=3)
    cent2, assign2 = build_ivf2(corpus, "vec_id", "embedding", n_coarse=2, n_sub=2,
                                n_iter=2, sample_size=64)
    two = ivf2_search(q, corpus, cent2, assign2, "vec_id", "embedding",
                      n_coarse_probe=2, nprobe=4, topk=3)
    for out in (flat, two):
        got = {(r["qid"], r["rk"], r["neighbor"]) for r in out.collect()}
        assert got == want

    cos = (
        q.crossJoin(degenerate)
        .select(cosine_udf("qv", _as_double(F.col("embedding"))).alias("c"))
        .select(F.col("c").isNull().alias("null"), F.isnan("c").alias("nan"))
        .collect()
    )
    assert len(cos) == 10 and all(r["null"] and not r["nan"] for r in cos)


def test_ivf_index_persistence(spark, tmp_path):
    """An IVF index persisted to the stage store searches identically after
    reload — index build cost amortizes across sessions."""
    from tcmkg.contract.generic import q_ann_topk
    from tcmkg.ops.ann import _as_double, build_ivf, ivf_search, load_ivf, save_ivf
    from tcmkg.pipeline.checkpoints import CheckpointStore

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 5)
    cent, assign = build_ivf(corpus, "vec_id", "embedding", n_centroids=4, n_iter=2)
    store = CheckpointStore(str(tmp_path / "ivf"))
    save_ivf(store, cent, assign)
    cent2, assign2 = load_ivf(spark, store)

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv")
    )
    got = ivf_search(queries, corpus, cent2, assign2, "vec_id", "embedding",
                     nprobe=4, topk=3)
    want = q_ann_topk(spark, sf)
    g = {(r["qid"], r["rk"]): r["neighbor"] for r in got.collect()}
    w = {(r["qid"], r["rk"]): r["neighbor"] for r in want.collect()}
    assert g == w  # full probe from the RELOADED index == exact brute force


def test_winnow_kernel_matches_bruteforce(spark):
    """r6 kernel rewrite: the monotonic-deque window minimum must equal the
    brute-force min-per-slice construction (the old column formulation) on
    adversarial strings — repeats, ties, multi-byte chars, short docs."""
    import hashlib

    from tcmkg.ops.fingerprint import winnow_fingerprints

    def brute(t, k=8, window=4):
        if t is None or len(t) < k:
            return set()
        grams = [
            hashlib.md5(t[i : i + k].encode("utf-8")).hexdigest()
            for i in range(len(t) - k + 1)
        ]
        if len(grams) < window:
            return set()
        return {min(grams[j : j + window]) for j in range(len(grams) - window + 1)}

    texts = [
        "abcdefghijklmnop",
        "aaaaaaaaaaaaaaaaaaaa",          # all-equal grams (tie path)
        "abababababababab",              # period-2 repeats
        "短文本中文字符串测试一二三四五",   # multi-byte code points
        "exactly8",                      # one gram, below window -> empty
        "short",                         # below k -> empty
        None,                            # null -> empty
        "x" * 7 + "abcdefghij" + "x" * 7,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {}
    for r in winnow_fingerprints(df, "doc_id", "text").collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, t in enumerate(texts):
        assert got.get(i, set()) == brute(t), f"doc {i}"
