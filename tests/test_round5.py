"""Round-5 additions: derived-entity families (ingredient/target), the
ingredient→gene de-conflict algebra, and fixture-safety invariants."""

from collections import defaultdict

import pytest


def _grouped(spark, rows):
    """Publish (kind, subj, obj) rows through the shipped grouped fold:
    rows -> reduced-shaped frame (one row per distinct pair) ->
    _assemble_grouped -> {pred: {(subj, obj)}}."""
    from tcmkg.pipeline.triples import _assemble_grouped

    reduced = spark.createDataFrame(
        [(k, s, o, None, 0, 0) for k, s, o in set(rows)],
        "kind string, subj string, obj string, amt double, n_null long, n_ml long",
    )
    out = defaultdict(set)
    for r in _assemble_grouped(reduced).collect():
        out[r["pred"]].add((r["subj"], r["obj"]))
    return out


def test_new_names_substring_free():
    """Ingredient/target names (and their aliases) must be mutually
    containment-free against EVERY other gazetteer surface form — the AC
    automatons scan whole turns, so a contained name would emit mentions
    the SQL oracles cannot predict (contract/kg._pick_free invariant)."""
    from tcmkg.fixtures.gazetteers import (
        INGREDIENT_ALIASES,
        INGREDIENT_NAMES,
        TARGET_ALIASES,
        TARGET_NAMES,
        build_gazetteers,
    )
    from tcmkg.kernels.normalize import text_norm

    new = set(INGREDIENT_NAMES + TARGET_NAMES)
    for al in (INGREDIENT_ALIASES, TARGET_ALIASES):
        for vs in al.values():
            new.update(vs)
    new = {text_norm(n) for n in new}
    universe = {
        text_norm(n)
        for recs in build_gazetteers().tables().values()
        for r in recs
        for n in r.names
    }
    old = universe - new
    bad = [(n, u) for n in new for u in old if n in u or u in n]
    assert not bad, f"containment between new and existing names: {bad[:5]}"
    # markers must not appear inside any universe name
    markers = ["含有", "上调", "下调", "作用于"]
    bad2 = [(m, u) for m in markers for u in universe if m in u]
    assert not bad2, bad2


def test_gene_edge_algebra(spark):
    """The grouped fold implements extract_target.py:365-372 + 404-417:
    up∩down conflicts move to associate; associate loses pairs still held
    by a directional set. Verified against a direct set-algebra model."""
    mention = [
        # (kind, subj, obj): plain up / plain down / plain assoc
        ("up_gene", "I1", "G1"), ("down_gene", "I2", "G1"),
        ("assoc_gene", "I3", "G1"),
        # conflict: up and down for the same pair -> associate
        ("up_gene", "I4", "G2"), ("down_gene", "I4", "G2"),
        # priority: assoc + up -> up only
        ("assoc_gene", "I5", "G2"), ("up_gene", "I5", "G2"),
        # conflict pair ALSO stated as assoc -> still exactly one assoc edge
        ("up_gene", "I6", "G3"), ("down_gene", "I6", "G3"),
        ("assoc_gene", "I6", "G3"),
    ]
    out = _grouped(spark, mention)
    got_up = out["ingredient_upregulate_gene"]
    got_down = out["ingredient_downregulate_gene"]
    got_assoc = out["ingredient_associate_gene"]

    # independent set-algebra model
    ups = {(s, o) for k, s, o in mention if k == "up_gene"}
    downs = {(s, o) for k, s, o in mention if k == "down_gene"}
    assocs = {(s, o) for k, s, o in mention if k == "assoc_gene"}
    conflict = ups & downs
    want_up, want_down = ups - conflict, downs - conflict
    want_assoc = (assocs | conflict) - want_up - want_down
    assert got_up == want_up == {("I1", "G1"), ("I5", "G2")}
    assert got_down == want_down == {("I2", "G1")}
    assert got_assoc == want_assoc == {("I3", "G1"), ("I4", "G2"), ("I6", "G3")}


def test_ingredient_disease_algebra(spark):
    """The grouped fold implements extract_ingredient.py:514-521:
    conflict = treats ∩ (induces ∪ contraindicates), dropped from ALL
    sets; induces∩contraindicates WITHOUT treats survives in both."""
    mention = [
        ("i_treat", "I1", "D1"),                             # plain treat
        ("i_induce", "I2", "D1"),                            # plain induce
        ("i_contra", "I3", "D1"),                            # plain contra
        ("i_treat", "I4", "D2"), ("i_induce", "I4", "D2"),   # conflict: both die
        ("i_treat", "I5", "D2"), ("i_contra", "I5", "D2"),   # conflict: both die
        ("i_induce", "I6", "D3"), ("i_contra", "I6", "D3"),  # both survive
    ]
    out = _grouped(spark, mention)
    got_t = out["ingredient_treat_disease"]
    got_i = out["ingredient_induce_disease"]
    got_c = out["ingredient_contraindicate_disease"]
    assert got_t == {("I1", "D1")}
    assert got_i == {("I2", "D1"), ("I6", "D3")}
    assert got_c == {("I3", "D1"), ("I6", "D3")}


def test_fillers_inert():
    """Filler prose must carry no rule marker, gazetteer name, or dose
    pattern — it pads turn length without changing extraction (the
    invariant the fixture docstring promises)."""
    from tcmkg.contract.kg import _UNIVERSE
    from tcmkg.fixtures.transcripts import FILLER
    from tcmkg.kernels.matcher import extract_herb_dose_pairs
    from tcmkg.kernels.normalize import text_norm
    from tcmkg.pipeline.extract import RULE_MARKERS

    for f in FILLER:
        tn = text_norm(f)
        for mk in RULE_MARKERS + (":", "不渴"):
            assert mk not in tn, (f, mk)
        for u in _UNIVERSE:
            assert u not in tn, (f, u)
        # no token of the filler parses as carrying a dose
        assert all(d is None for _, d in extract_herb_dose_pairs(tn)), f


def test_derived_entity_maps_exist(pipeline):
    """KGPipeline canonicalizes the two new gazetteers; alias surfaces
    resolve to the same canonical id as their primary name (the CC merge
    the reference does through shared source ids)."""
    from tcmkg.kernels.normalize import text_norm

    m = pipeline.maps
    assert m["ingredient"][text_norm("栎精")] == m["ingredient"][text_norm("槲皮素")]
    assert m["ingredient"][text_norm("乌索酸")] == m["ingredient"][text_norm("熊果酸")]
    assert m["target"]["trp53"] == m["target"]["tp53"]
    assert m["target"]["cox2"] == m["target"]["ptgs2"]
    assert m["ingredient"][text_norm("槲皮素")].startswith("TMIN")
    assert m["target"]["tp53"].startswith("TMGE")


def test_symptom_locus_edges(pipeline):
    """Spark name-containment join vs the pure-Python derivation — and a
    few hand-checked anchor edges (目赤→眼 through the reference's 目→眼
    alias surface; 腰痛→腰部 through the stem surface)."""
    from tcmkg.fixtures.locus import derive_symptom_locus, locus_id_map
    from tcmkg.kernels.normalize import text_norm

    got = {(r["subj"], r["obj"]) for r in pipeline.symptom_locus().collect()}
    # independent derivation from the pipeline's own canonical entities
    names_by_canon = {}
    for r in pipeline.nodes_table().filter("entity_type = 'symptom'").collect():
        names_by_canon[r["canonical_id"]] = list(r["names"])
    want = derive_symptom_locus(names_by_canon)
    assert got == want and got
    ids = locus_id_map()
    sym = pipeline.maps["symptom"]
    assert (sym[text_norm("目赤")], ids["眼"]) in got
    assert (sym[text_norm("腰痛")], ids["腰部"]) in got
    assert (sym[text_norm("关节痛")], ids["关节"]) in got
    # a locus-free symptom derives nothing
    assert all(s != sym[text_norm("发热")] for s, _ in got)


def test_locus_ids_reference_scheme():
    from tcmkg.fixtures.locus import LOCUS_VOCAB, locus_id

    assert locus_id(0) == "TMLC00001"
    assert locus_id(len(LOCUS_VOCAB) - 1) == f"TMLC{len(LOCUS_VOCAB):05d}"


def test_stream_near_dedup_cross_batch(spark, tmp_path):
    """Streamed near-dedup must (a) remove a later-batch near-duplicate of
    an EARLIER batch's kept doc through the persisted signature index,
    (b) partition ids into kept ∪ removed exactly, and (c) be a no-op when
    the stream restarts on the same checkpoint (nothing reprocessed)."""
    import os

    import pandas as pd

    from tcmkg.streaming.ingest import stream_near_dedup

    base = "tok%d " * 30
    texts = {
        0: base % tuple(range(30)),                      # batch0 keeper
        1: base % tuple(range(30)),                      # exact dup in batch0
        2: "zz%d " * 30 % tuple(range(100, 130)),        # distinct
        10: base % tuple(list(range(28)) + [900, 901]),  # batch1 near-dup of 0
        11: "yy%d " * 30 % tuple(range(200, 230)),       # distinct
        20: base % tuple(list(range(27)) + [902, 903, 904]),  # batch2 near-dup of 0
        21: "ww%d " * 30 % tuple(range(300, 330)),       # distinct
    }
    batches = [[0, 1, 2], [10, 11], [20, 21]]
    landing = tmp_path / "landing"
    landing.mkdir()
    for i, ids in enumerate(batches):
        p = landing / f"b{i}.parquet"
        pd.DataFrame(
            {"doc_id": ids, "text": [texts[i] for i in ids]}
        ).astype({"doc_id": "int64"}).to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + i * 60,) * 2)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_near_dedup(spark, str(landing), out, ckpt)
    assert q.awaitTermination(300)

    rms = {
        (r["removed_doc"], r["keep_doc"])
        for r in spark.read.parquet(os.path.join(out, "removals")).collect()
    }
    kept = {
        r["doc_id"] for r in spark.read.parquet(os.path.join(out, "docs")).collect()
    }
    # cross-batch removals resolve to the batch-0 keeper via the index
    assert (1, 0) in rms and (10, 0) in rms and (20, 0) in rms
    assert kept == {0, 2, 11, 21}
    assert kept | {r for r, _ in rms} == set(texts)
    # restart on the same checkpoint: availableNow finds nothing new
    q2 = stream_near_dedup(spark, str(landing), out, ckpt)
    assert q2.awaitTermination(300)
    assert kept == {
        r["doc_id"] for r in spark.read.parquet(os.path.join(out, "docs")).collect()
    }


def test_ivf_add_incremental_maintenance(spark, tmp_path):
    """ivf_add: (1) with no cap, added assignments are identical to
    assigning the grown corpus from scratch against the same centroids
    (assignment is a pure function of the centroid set); (2) with a cap,
    oversized cells re-split locally — centroid count grows, the retired
    cid disappears, and every corpus id stays in exactly one live cell;
    (3) the updated index round-trips through the store."""
    from pyspark.sql import functions as F

    import numpy as np

    from tcmkg.ops.ann import build_ivf, ivf_add, load_ivf, save_ivf
    from tcmkg.pipeline.checkpoints import CheckpointStore

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = e.filter(F.col("vec_id") < 300)
    new = e.filter(F.col("vec_id") >= 300)

    # (1) pure-assign equality, no split
    store = CheckpointStore(str(tmp_path / "a"))
    cent0, assign0 = build_ivf(old, "vec_id", "embedding", n_centroids=4, n_iter=2)
    save_ivf(store, cent0, assign0)
    cent, assign = ivf_add(spark, store, e, new, "vec_id", "embedding")
    cent_rows = sorted((r["cid"], list(r["cvec"])) for r in cent0.collect())
    # independent brute force: highest cosine, first (lowest cid) on ties
    C = np.array([v for _, v in cent_rows])
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    scratch = set()
    for r in e.select("vec_id", "embedding").collect():
        v = np.array(r["embedding"], dtype=np.float64)
        scratch.add((r["vec_id"], cent_rows[int(np.argmax(C @ (v / np.linalg.norm(v))))][0]))
    got = {(r["id"], r["cid"]) for r in assign.collect()}
    assert got == scratch
    assert sorted((r["cid"], list(r["cvec"])) for r in cent.collect()) == cent_rows

    # (2) forced split
    store2 = CheckpointStore(str(tmp_path / "b"))
    save_ivf(store2, cent0, assign0)
    cent2, assign2 = ivf_add(
        spark, store2, e, new, "vec_id", "embedding", max_cell=120, n_subsplit=2
    )
    sizes0 = {r["cid"]: r["count"] for r in
              assign.groupBy("cid").count().collect()}
    oversized = {c for c, n in sizes0.items() if n > 120}
    assert oversized, "fixture must force at least one split"
    cids2 = {r["cid"] for r in cent2.collect()}
    assert not (oversized & cids2), "retired cids must not survive"
    assert len(cids2) == 4 - len(oversized) + 2 * len(oversized)
    a2 = assign2.collect()
    assert len(a2) == e.count() and len({r["id"] for r in a2}) == len(a2)
    assert {r["cid"] for r in a2} <= cids2

    # (2b) overlapping tranche ids are a hard error, not silent duplicates
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already assigned"):
        ivf_add(spark, store2, e, e.filter(F.col("vec_id") < 10),
                "vec_id", "embedding")

    # (3) persistence round-trip
    cent_r, assign_r = load_ivf(spark, store2)
    assert {(r["cid"], tuple(r["cvec"])) for r in cent_r.collect()} == {
        (r["cid"], tuple(r["cvec"])) for r in cent2.collect()
    }
    assert {(r["id"], r["cid"]) for r in assign_r.collect()} == {
        (r["id"], r["cid"]) for r in a2
    }


def test_bmp_codec_roundtrip():
    """encode_bmp/decode_bmp: exact pixel round-trip including odd widths
    (4-byte row padding) and the top-down (negative height) layout."""
    import numpy as np

    from tcmkg.ops.multimodal import decode_bmp, encode_bmp, nn_resize

    for w, h in [(1, 1), (3, 2), (5, 7), (8, 6), (13, 3)]:
        px = (np.arange(h * w * 3).reshape(h, w, 3) * 17 % 256).astype(np.float64)
        assert np.array_equal(decode_bmp(encode_bmp(px)), px), (w, h)
    # top-down variant: flip the height sign in an encoded stream
    px = (np.arange(4 * 3 * 3).reshape(3, 4, 3) % 256).astype(np.float64)
    blob = bytearray(encode_bmp(px))
    blob[22:26] = (-3).to_bytes(4, "little", signed=True)
    td = decode_bmp(bytes(blob))
    assert np.array_equal(td, px[::-1])
    # nearest-neighbor resample: exact index-sample semantics
    rs = nn_resize(px, 2, 6)
    assert rs.shape == (6, 2, 3)
    assert np.array_equal(rs[0, 0], px[0, 0]) and np.array_equal(rs[5, 1], px[2, 2])
    # reject non-BMP and unsupported bit depths
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_bmp(b"PNG....")
    bad = bytearray(encode_bmp(px))
    bad[28:30] = (8).to_bytes(2, "little")
    with _pytest.raises(ValueError):
        decode_bmp(bytes(bad))


def test_resize_images_real_bmp(spark):
    """resize_images with decoder/encoder = the real BMP codec: output
    binaries are REAL BMPs at the target size whose pixels equal the
    nearest-neighbor resample of the source pattern."""
    import numpy as np

    from tcmkg.ops.multimodal import (
        bmp_pixels,
        decode_bmp,
        encode_bmp,
        nn_resize,
        resize_images,
        synth_bmp_media,
    )

    out = resize_images(
        synth_bmp_media(spark, 6), 4, 5, fake_decode=False, encoder=encode_bmp
    ).collect()
    assert len(out) == 6
    for r in out:
        px = decode_bmp(bytes(r["media"]))
        assert px.shape == (5, 4, 3)
        want = nn_resize(bmp_pixels(r["doc_id"]), 4, 5)
        assert np.array_equal(px, want)
        assert (r["meta"]["width"], r["meta"]["height"]) == (4, 5)


def test_nodes_table_has_derived_types(pipeline):
    types = {
        r["entity_type"]
        for r in pipeline.nodes_table().select("entity_type").distinct().collect()
    }
    assert {"ingredient", "target", "locus"} <= types


def test_gene_gene_algebra(spark):
    """The grouped fold implements extract_target.py:453-486: associate
    loses pairs present IN EITHER DIRECTION in covary/regulate; surviving
    mutual associate pairs collapse to the subj<obj direction. Verified
    against a direct set-algebra model."""
    mention = [
        ("gg_reg", "G1", "G2"),                              # plain regulate
        ("gg_cov", "G3", "G4"),                              # plain covary
        ("gg_assoc", "G5", "G6"),                            # plain assoc
        ("gg_assoc", "G1", "G2"),                            # killed: same dir in reg
        ("gg_assoc", "G2", "G1"),                            # killed: reverse in reg
        ("gg_assoc", "G4", "G3"),                            # killed: reverse in cov
        ("gg_assoc", "G7", "G8"), ("gg_assoc", "G8", "G7"),  # mutual -> (G7,G8)
    ]
    out = _grouped(spark, mention)
    assert out["gene_regulate_gene"] == {("G1", "G2")}
    assert out["gene_covary_gene"] == {("G3", "G4")}
    got = out["gene_associate_gene"]
    # independent model
    regs = {("G1", "G2")}
    covs = {("G3", "G4")}
    assocs = {(s, o) for k, s, o in mention if k == "gg_assoc"}
    kill = regs | covs | {(b, a) for a, b in regs | covs}
    a1 = assocs - kill
    want = {(a, b) for a, b in a1 if not ((b, a) in a1 and a > b)}
    assert got == want == {("G5", "G6"), ("G7", "G8")}


def test_disease_gene_algebra(spark):
    """The grouped fold implements extract_target.py:597-601:
    associate = assoc − up − down; directional sets pass through."""
    mention = [
        ("dg_up", "D1", "G1"),
        ("dg_down", "D2", "G1"),
        ("dg_assoc", "D3", "G1"),                         # survives
        ("dg_assoc", "D1", "G1"),                         # loses to up
        ("dg_assoc", "D2", "G1"),                         # loses to down
    ]
    out = _grouped(spark, mention)
    assert out["disease_upregulate_gene"] == {("D1", "G1")}
    assert out["disease_downregulate_gene"] == {("D2", "G1")}
    assert out["disease_associate_gene"] == {("D3", "G1")}


def test_clause_window_bounds():
    """clause_window is sentence-bounded on both sides and first-match."""
    from tcmkg.kernels.matcher import clause_window

    assert clause_window("前句。a调控b。后句。", "调控") == ("a", "b")
    assert clause_window("a调控b，且相互作用b。尾。", "相互作用") == ("a调控b，且", "b")
    assert clause_window("a调控b", "共变") == ("", "")
    assert clause_window("调控b。", "调控") == ("", "b")


def test_gene_side_statement_extraction(spark, pipeline):
    """End-to-end: one conversation exercising every T11-T14 marker; the
    kernel must emit exactly the oracle's mention sets (self-pair guard,
    sentence bounds, multi-marker unions, locus surface resolution)."""
    import pandas as pd
    from datetime import datetime, timezone

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    texts = [
        "tp53调控egfr。",
        "vegfa共变akt1。",
        "stat3相互作用jak2。",
        "bcl2调控mtor，且相互作用mtor。骨髓表达nos2。",
        "感冒升高tp53。消渴关联egfr，且降低egfr。",
        # NOTE: one clause per marker per turn — clause_window (and the
        # oracle) bind each marker's FIRST occurrence only
        "casp3参与凋亡通路。",
        "bcl2参与自噬过程。",
        "jak2驱动迁移过程。nos2定位于溶酶体。",
        "mtor活跃于内质网。egfr介导转运活性。",
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(texts),
            "turn_idx": pd.array(range(len(texts)), dtype="int32"),
            "role": ["assistant"] * len(texts),
            "text": texts,
            "tool": [None] * len(texts),
            "ts": [ts] * len(texts),
        }
    )
    df = spark.createDataFrame(pdf)
    triples = {
        (r["subj"], r["pred"], r["obj"])
        for r in pipeline.triples(df).collect()
    }
    tgt = pipeline.maps["target"]
    dis = pipeline.maps["disease"]
    from tcmkg.fixtures.dimensions import dim_maps

    anat = pipeline.maps["anatomy"]
    dm = dim_maps()
    want = {
        (tgt["tp53"], "gene_regulate_gene", tgt["egfr"]),
        (tgt["bcl2"], "gene_regulate_gene", tgt["mtor"]),
        (tgt["vegfa"], "gene_covary_gene", tgt["akt1"]),
        (tgt["stat3"], "gene_associate_gene", tgt["jak2"]),
        # bcl2~mtor assoc killed by the regulate claim in the same turn
        (anat["骨髓"], "anatomy_express_gene", tgt["nos2"]),
        (dis["感冒"], "disease_upregulate_gene", tgt["tp53"]),
        (dis["消渴"], "disease_downregulate_gene", tgt["egfr"]),
        # 消渴~egfr assoc killed by the down claim in the same turn
        (tgt["casp3"], "gene_associate_pathway", dm["pathway"]["凋亡通路"]),
        (tgt["bcl2"], "gene2biological_process", dm["bioprocess"]["自噬过程"]),
        (tgt["jak2"], "gene2biological_process", dm["bioprocess"]["迁移过程"]),
        (tgt["nos2"], "gene2cell_component", dm["cellcomp"]["溶酶体"]),
        (tgt["mtor"], "gene2cell_component", dm["cellcomp"]["内质网"]),
        (tgt["egfr"], "gene2molecular_function", dm["molfunction"]["转运活性"]),
    }
    got = {t for t in triples if t[1] in {w[1] for w in want}}
    assert got == want, f"spurious={got - want} missing={want - got}"


def test_gene_edges_bind_algebra(spark):
    """The grouped fold implements extract_target.py:365-372 + 404-411:
    up∩down conflicts move to associate; associate then loses pairs held
    by a directional set OR by bind; bind publishes raw."""
    mention = [
        ("up_gene", "I1", "G1"),                              # plain up
        ("bind_gene", "I2", "G1"),                            # plain bind
        ("assoc_gene", "I2", "G1"),                           # killed by bind
        ("assoc_gene", "I3", "G1"),                           # survives
        ("up_gene", "I4", "G1"), ("down_gene", "I4", "G1"),   # conflict -> assoc
        ("bind_gene", "I5", "G1"), ("up_gene", "I5", "G1"),   # both publish
    ]
    out = _grouped(spark, mention)
    assert out["ingredient_upregulate_gene"] == {("I1", "G1"), ("I5", "G1")}
    assert out["ingredient_downregulate_gene"] == set()
    assert out["ingredient_associate_gene"] == {
        ("I3", "G1"), ("I4", "G1")
    }
    assert out["ingredient_bind_gene"] == {
        ("I2", "G1"), ("I5", "G1")
    }


def test_sideeffect_and_anat_updown_extraction(spark, pipeline):
    """End-to-end: bind / side-effect certainty / anatomy up-down markers
    through the kernel; the dual-certainty pair publishes under BOTH
    side-effect predicates (no de-conflict, extract_ingredient.py:684-735)."""
    import pandas as pd
    from datetime import datetime, timezone

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    texts = [
        "栎精绑定egfr。",
        "山奈酚作用于mtor，且绑定mtor。",   # assoc loses to bind
        "木犀草素必致药疹反应。",
        "绿原酸或致晕沉反应。",
        "芦丁必致倦乏反应。芦丁或致倦乏反应。",  # both certainty sets publish
        "骨髓富集nos2。",
        "海马回缺失casp3。",  # alias surface -> 海马体's canonical id
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(texts),
            "turn_idx": pd.array(range(len(texts)), dtype="int32"),
            "role": ["assistant"] * len(texts),
            "text": texts,
            "tool": [None] * len(texts),
            "ts": [ts] * len(texts),
        }
    )
    df = spark.createDataFrame(pdf)
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in pipeline.triples(df).collect()
    }
    ing = pipeline.maps["ingredient"]
    tgt = pipeline.maps["target"]
    from tcmkg.fixtures.dimensions import dim_maps

    anat = pipeline.maps["anatomy"]
    se = dim_maps()["sideeffect"]
    want = {
        (ing["栎精"], "ingredient_bind_gene", tgt["egfr"]),
        (ing["山奈酚"], "ingredient_bind_gene", tgt["mtor"]),
        (ing["木犀草素"], "ingredient_cause_sideeffect", se["药疹反应"]),
        (ing["绿原酸"], "ingredient_might_cause_sideeffect", se["晕沉反应"]),
        (ing["芦丁"], "ingredient_cause_sideeffect", se["倦乏反应"]),
        (ing["芦丁"], "ingredient_might_cause_sideeffect", se["倦乏反应"]),
        (anat["骨髓"], "anatomy_upregulate_gene", tgt["nos2"]),
        # alias surface resolves through the anatomy CC to 海马体's id
        (anat["海马体"], "anatomy_downregulate_gene", tgt["casp3"]),
    }
    preds = {w[1] for w in want} | {"ingredient_associate_gene"}
    got_f = {t for t in got if t[1] in preds}
    assert got_f == want, f"spurious={got_f - want} missing={want - got_f}"


def test_resemble_and_interact_algebra(spark):
    """disease_resemble loses pairs in published is_a (either direction,
    extract_disease.py:311-317); ingredient interact/resemble mutual pairs
    collapse to subj<obj (extract_ingredient.py:354-361, 375-383)."""
    mention = [
        ("is_a", "D1", "D2"),                          # published is_a
        ("is_a", "D3", "D4"), ("is_a", "D4", "D3"),    # antisym -> neither published
        ("dis_resemble", "D1", "D2"),                  # killed (same dir)
        ("dis_resemble", "D2", "D1"),                  # killed (reverse dir)
        ("dis_resemble", "D3", "D4"),                  # SURVIVES: is_a pair died
        ("dis_resemble", "D5", "D6"),                  # plain survivor
    ]
    out = _grouped(spark, mention)
    assert out["disease_is_a_disease"] == {("D1", "D2")}
    assert out["disease_resemble_disease"] == {
        ("D3", "D4"), ("D5", "D6")
    }

    both = _grouped(spark, [
        (k, s, o)
        for k in ("ing_resemble", "ing_interact")
        for s, o in (("I2", "I1"), ("I1", "I2"), ("I3", "I4"))
    ])
    for pred in ("ingredient_resemble_ingredient", "ingredient_associate_ingredient"):
        kept = both[pred]
        assert kept == {("I1", "I2"), ("I3", "I4")}


def test_resemble_interact_extraction(spark, pipeline):
    """End-to-end 相类/协同 markers: one marker resolved against two
    entity-type pairs (disease×disease and ingredient×ingredient)."""
    import pandas as pd
    from datetime import datetime, timezone

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    texts = [
        "感冒相类消渴。",
        "栎精相类山奈酚。",
        "芦丁协同绿原酸。",
        "绿原酸协同芦丁。",   # mutual -> one canonical subj<obj edge
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(texts),
            "turn_idx": pd.array(range(len(texts)), dtype="int32"),
            "role": ["assistant"] * len(texts),
            "text": texts,
            "tool": [None] * len(texts),
            "ts": [ts] * len(texts),
        }
    )
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in pipeline.triples(spark.createDataFrame(pdf)).collect()
        if r["pred"] in (
            "disease_resemble_disease",
            "ingredient_resemble_ingredient",
            "ingredient_associate_ingredient",
        )
    }
    ing = pipeline.maps["ingredient"]
    dis = pipeline.maps["disease"]
    pair = tuple(sorted((ing["芦丁"], ing["绿原酸"])))
    want = {
        (dis["感冒"], "disease_resemble_disease", dis["消渴"]),
        (ing["栎精"], "ingredient_resemble_ingredient", ing["山奈酚"]),
        (pair[0], "ingredient_associate_ingredient", pair[1]),
    }
    assert got == want, f"spurious={got - want} missing={want - got}"


def test_final_family_extraction(spark, pipeline):
    """End-to-end for the last reference-inventory families: herb→symptom/
    syndrome treats, disease/syndrome present symptom (one marker, two
    subject maps), pathway→disease, and the ingredient→pathway/GO quad
    whose BP edge dedups the 参与∪增进 statement-kind union
    (extract_ingredient.py:550-676: ASSOCIATES ∪ INCREASES ∪ DECREASES)."""
    import pandas as pd
    from datetime import datetime, timezone

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    texts = [
        "甘草善治头痛。",
        "甘草善解气虚证。",
        "感冒呈现心动过速。",  # disease presents a MODERN symptom (TMMS)
        "气虚证呈现头痛。",
        "凋亡通路引动消渴。",
        "栎精参与凋亡通路。",
        "山奈酚参与增殖过程。山奈酚增进增殖过程。",  # union -> ONE edge
        "木犀草素削减分化过程。",
        "芦丁定位于线粒体。",
        "绿原酸介导激酶活性。",
        "甘草善治头痛。",  # exact repeat -> still one edge
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(texts),
            "turn_idx": pd.array(range(len(texts)), dtype="int32"),
            "role": ["assistant"] * len(texts),
            "text": texts,
            "tool": [None] * len(texts),
            "ts": [ts] * len(texts),
        }
    )
    preds = {
        "herb_treat_symptom", "herb_treat_syndrome",
        "disease_present_symptom", "syndrome_present_symptom",
        "pathway_lead_to_disease", "ingredient_associate_pathway",
        "ingredient_associate_biological_process",
        "ingredient_associate_cellular_component",
        "ingredient_associate_molecular_function",
    }
    rows = pipeline.triples(spark.createDataFrame(pdf)).collect()
    got = {(r["subj"], r["pred"], r["obj"]) for r in rows if r["pred"] in preds}
    m = pipeline.maps
    from tcmkg.fixtures.dimensions import dim_maps

    dm = dim_maps()
    want = {
        (m["herb"]["甘草"], "herb_treat_symptom", m["symptom"]["头痛"]),
        (m["herb"]["甘草"], "herb_treat_syndrome", m["syndrome"]["气虚证"]),
        (m["disease"]["感冒"], "disease_present_symptom", m["mm_symptom"]["心动过速"]),
        (m["syndrome"]["气虚证"], "syndrome_present_symptom", m["symptom"]["头痛"]),
        (dm["pathway"]["凋亡通路"], "pathway_lead_to_disease", m["disease"]["消渴"]),
        (m["ingredient"]["栎精"], "ingredient_associate_pathway", dm["pathway"]["凋亡通路"]),
        (m["ingredient"]["山奈酚"], "ingredient_associate_biological_process", dm["bioprocess"]["增殖过程"]),
        (m["ingredient"]["木犀草素"], "ingredient_associate_biological_process", dm["bioprocess"]["分化过程"]),
        (m["ingredient"]["芦丁"], "ingredient_associate_cellular_component", dm["cellcomp"]["线粒体"]),
        (m["ingredient"]["绿原酸"], "ingredient_associate_molecular_function", dm["molfunction"]["激酶活性"]),
    }
    assert got == want, f"spurious={got - want} missing={want - got}"


def test_k_hop_generalizes_two_hop(spark, pipeline, transcripts_df):
    """k_hop(2) must equal two_hop exactly (same plan family), and
    k_hop(3) must equal a direct triple three-self-join — with the edge
    TABLE sides bucket-local: with broadcast disabled, k=2 plans ZERO
    data exchanges and k=3 exactly ONE (the path frame re-keying on its
    end column; the bucketed tables are never re-shuffled)."""
    import re

    from pyspark.sql import functions as F

    triples = pipeline.triples(transcripts_df)
    pipeline.materialize_graph(triples)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        k2 = pipeline.k_hop(2)
        two = pipeline.two_hop()
        got2 = {tuple(r) for r in k2.collect()}
        want2 = {
            (r["a"], r["pred1"], r["via"], r["pred2"], r["b"])
            for r in two.collect()
        }
        assert got2 == want2 and got2
        # executed AdaptiveSparkPlans print the final AND the initial
        # plan — count over the final section only (the r4 ADVICE pitfall)
        plan2 = (
            k2._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert len(re.findall(r"Exchange hashpartitioning", plan2)) == 0

        k3 = pipeline.k_hop(3)
        got3 = {tuple(r) for r in k3.collect()}
        e = [
            triples.select(
                F.col("subj").alias(f"n{i}"),
                F.col("pred").alias(f"pred{i + 1}"),
                F.col("obj").alias(f"n{i + 1}"),
            )
            for i in range(3)
        ]
        direct = e[0].join(e[1], "n1").join(e[2], "n2").select(
            "n0", "pred1", "n1", "pred2", "n2", "pred3", "n3"
        )
        want3 = {tuple(r) for r in direct.collect()}
        assert got3 == want3 and got3
        plan3 = (
            k3._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert len(re.findall(r"Exchange hashpartitioning", plan3)) == 1, plan3
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_k_hop_pred_filters(spark, pipeline, transcripts_df):
    """Per-hop predicate filters must push into each hop's scan and
    reproduce the dedicated chain query semantics."""
    triples = pipeline.triples(transcripts_df)
    pipeline.materialize_graph(triples)
    ig_preds = [
        "ingredient_upregulate_gene", "ingredient_downregulate_gene",
        "ingredient_associate_gene", "ingredient_bind_gene",
    ]
    k3 = pipeline.k_hop(
        3,
        preds=[["herb_consistof_ingredient"], ig_preds,
               ["gene_associate_pathway"]],
    )
    got = {(r["n0"], r["n1"], r["n2"], r["n3"]) for r in k3.collect()}
    from pyspark.sql import functions as F

    hi = triples.filter(F.col("pred") == "herb_consistof_ingredient")
    ig = triples.filter(F.col("pred").isin(*ig_preds))
    gp = triples.filter(F.col("pred") == "gene_associate_pathway")
    want = {
        (r["h"], r["i"], r["g"], r["p"])
        for r in hi.select(F.col("subj").alias("h"), F.col("obj").alias("i"))
        .join(ig.select(F.col("subj").alias("i"), F.col("obj").alias("g")), "i")
        .join(gp.select(F.col("subj").alias("g"), F.col("obj").alias("p")), "g")
        .collect()
    }
    assert got == want and got


def test_triples_grouped_matches_oracle(spark, pipeline, transcripts_df):
    """The shipped grouped fold (_assemble_grouped: one orientation-tagged
    collect_set aggregation + row-local boolean emission) publishes
    EXACTLY the oracle's `publish` over the same per-kind pair sets: on a
    real extraction (every family but the dose-weighted contains) and on
    an adversarial synthetic mention frame exercising every swap/conflict
    rule at once, plus NULL-keyed and repeated rows that reduce_mentions
    must drop and fold."""
    from tcmkg.oracle.extractor import publish
    from tcmkg.pipeline.extract import MENTION_SCHEMA
    from tcmkg.pipeline.triples import _assemble_grouped, reduce_mentions

    def published(reduced):
        rows = [
            (r["subj"], r["pred"], r["obj"], r["weight"])
            for r in _assemble_grouped(reduced).collect()
            if r["pred"] != "formula_contains_herb"
        ]
        assert len(rows) == len(set(rows))
        return set(rows)

    def by_kind(rows):
        kinds = defaultdict(set)
        for k, s, o in rows:
            if k != "contains" and s is not None and o is not None:
                kinds[k].add((s, o))
        return kinds

    reduced = reduce_mentions(pipeline.mentions(transcripts_df)).localCheckpoint()
    real = published(reduced)
    want = publish(by_kind((r["kind"], r["subj"], r["obj"]) for r in reduced.collect()))
    assert real == want and len(real) > 0

    # synthetic: self-loops, mutual pairs, conflicts, either-direction kills
    rows = [
        ("treats", "h1", "d1"), ("induces", "h1", "d1"),        # killed
        ("treats", "h2", "d1"),                                  # survives
        ("up_gene", "i1", "g1"), ("down_gene", "i1", "g1"),      # -> assoc
        ("up_gene", "i2", "g1"), ("bind_gene", "i2", "g1"),
        ("assoc_gene", "i2", "g1"),                              # bind kills assoc
        ("i_treat", "i1", "d1"), ("i_contra", "i1", "d1"),       # conflict: both die
        ("i_induce", "i3", "d1"), ("i_contra", "i3", "d1"),      # no treat: both live
        ("gg_assoc", "ga", "gb"), ("gg_assoc", "gb", "ga"),      # mutual -> ga<gb kept
        ("gg_assoc", "gc", "gd"), ("gg_cov", "gd", "gc"),        # reverse cov kills
        ("gg_assoc", "ge", "ge"),                                # self-loop kept
        ("is_a", "d1", "d2"), ("is_a", "d2", "d1"),              # bidirectional: both die
        ("is_a", "d3", "d4"),
        ("dis_resemble", "d4", "d3"),                            # killed by published is_a
        ("dis_resemble", "d5", "d6"),
        ("ing_resemble", "ia", "ib"), ("ing_resemble", "ib", "ia"),
        ("dg_assoc", "d1", "g1"), ("dg_up", "d1", "g1"),         # up beats assoc
        ("h_symptom", "h1", "s1"),                               # plain
        # NULL keys: dropped before the fold, never co-grouped
        ("treats", None, "d9"), ("dg_up", "d9", None), ("h_symptom", None, None),
        # repeated rows: fold to one pair
        ("treats", "h2", "d1"), ("gg_assoc", "ga", "gb"), ("is_a", "d3", "d4"),
    ]
    mentions = spark.createDataFrame(
        [(k, s, o, 1, 0.0, 0.0, 0.0, 0, 0, False) for k, s, o in rows],
        MENTION_SCHEMA,
    )
    syn = published(reduce_mentions(mentions).localCheckpoint())
    assert syn == publish(by_kind(rows))
    got = {(s, p, o) for s, p, o, _ in syn}
    assert ("h2", "herb_treats_disease", "d1") in got
    assert ("h1", "herb_treats_disease", "d1") not in got
    assert ("i1", "ingredient_associate_gene", "g1") in got
    assert ("i2", "ingredient_associate_gene", "g1") not in got
    assert ("i1", "ingredient_treat_disease", "d1") not in got
    assert ("i1", "ingredient_contraindicate_disease", "d1") not in got
    assert ("i3", "ingredient_induce_disease", "d1") in got
    assert ("ga", "gene_associate_gene", "gb") in got
    assert ("gb", "gene_associate_gene", "ga") not in got
    assert ("gc", "gene_associate_gene", "gd") not in got
    assert ("ge", "gene_associate_gene", "ge") in got
    assert ("d1", "disease_is_a_disease", "d2") not in got
    assert ("d3", "disease_is_a_disease", "d4") in got
    assert ("d4", "disease_resemble_disease", "d3") not in got
    assert ("d5", "disease_resemble_disease", "d6") in got
    assert ("ia", "ingredient_resemble_ingredient", "ib") in got
    assert ("ib", "ingredient_resemble_ingredient", "ia") not in got
    assert ("d1", "disease_associate_gene", "g1") not in got
    assert ("d1", "disease_upregulate_gene", "g1") in got
