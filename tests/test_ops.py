"""Tests for sources, merge-fold functions, and similarity ops."""

import json
import math
import os

import pytest
from pyspark.sql import functions as F


def test_json_tree_reader(spark, tmp_path):
    """S1: entity id recovered from the path, one distributed read."""
    from tcmkg.sources.readers import read_json_tree

    for eid in ["12", "34"]:
        d = tmp_path / "herb" / eid
        d.mkdir(parents=True)
        (d / "herb.json").write_text(json.dumps({"name": f"h{eid}", "x": int(eid)}))
    df = read_json_tree(spark, str(tmp_path / "herb"))
    rows = {r["path_id"]: r["name"] for r in df.collect()}
    assert rows == {"12": "h12", "34": "h34"}


def test_csv_tsv_null_norm(spark, tmp_path):
    from tcmkg.sources.readers import normalize_nulls, read_csv, read_tsv

    p = tmp_path / "x.csv"
    p.write_text("a,b\n1,None\n2,-\n3,ok\n")
    df = normalize_nulls(read_csv(spark, str(p)))
    vals = {r["a"]: r["b"] for r in df.collect()}
    assert vals == {"1": None, "2": None, "3": "ok"}

    t = tmp_path / "x.tsv"
    t.write_text("a\tb\n1\tz\n")
    assert read_tsv(spark, str(t)).collect()[0]["b"] == "z"


def test_group_merge_fold(spark):
    """A1/A2: set-union of ;-tokens, first-non-null numerics, tolerance."""
    from tcmkg.functions.merge import group_merge

    df = spark.createDataFrame(
        [
            ("k1", "a;b", 10.0),
            ("k1", "b;c", 11.0),      # within rel_tol 0.2 of 10.0
            ("k2", "x", None),
            ("k2", None, 5.0),
            (None, "solo", 1.0),
        ],
        "key string, names string, score double",
    )
    out = {r["key"]: r for r in group_merge(df, "key", ["names"], ["score"], True).collect()}
    assert out["k1"]["names"] == "a;b;c"
    assert out["k1"]["score"] == 10.0
    assert out["k1"]["score_agrees"] is True
    assert out["k2"]["names"] == "x"
    assert out["k2"]["score"] == 5.0
    assert out[None]["names"] == "solo"


def test_group_merge_tolerance_violation(spark):
    from tcmkg.functions.merge import group_merge

    df = spark.createDataFrame(
        [("k", "a", 10.0), ("k", "b", 20.0)], "key string, names string, score double"
    )
    row = group_merge(df, "key", ["names"], ["score"], True).collect()[0]
    assert row["score_agrees"] is False  # data, not a crash (vs reference assert)


def test_standardize(spark):
    from tcmkg.functions.standardize import (
        case_normalize,
        standardize_vocab,
        surrogate_id,
        tokenize_against_vocab,
    )

    df = spark.createDataFrame([("Poisonous and CALM",)], "p string")
    out = df.select(standardize_vocab(F.col("p")).alias("p")).collect()[0]["p"]
    assert out == "toxic and neutral"
    df2 = spark.createDataFrame([(3,)], "rank int")
    assert df2.select(surrogate_id("TMHB", "rank")).collect()[0][0] == "TMHB00003"
    df3 = spark.createDataFrame([("cold and very toxic",)], "p string")
    toks = df3.select(tokenize_against_vocab(F.col("p"), ["toxic", "cold", "warm"]).alias("t")).collect()[0]["t"]
    assert toks == ["toxic", "cold"]
    df4 = spark.createDataFrame([("tmhb00003", "Cold And TOXIC")], "herb_id string, p string")
    row = case_normalize(df4).collect()[0]
    assert (row["herb_id"], row["p"]) == ("TMHB00003", "cold and toxic")


def test_embed_deterministic():
    from tcmkg.ops.similarity import _encode_batch
    import pandas as pd

    a = _encode_batch(pd.Series(["头痛发热", "头痛发热", "咳嗽"]))
    assert a[0] == a[1]
    assert a[0] != a[2]
    assert abs(sum(x * x for x in a[0]) - 1.0) < 1e-9  # L2-normalized


def test_blocked_similarity_clusters(spark):
    """EP3-stage-2 analogue: identical texts in the same block must cluster;
    different blocks never pair (the blocking contract)."""
    from tcmkg.ops.similarity import cluster_symptom_like

    rows = [
        ("s1", "头痛而胀", "blk1"),
        ("s2", "头痛而胀", "blk1"),      # identical -> sim 1.0 -> clustered
        ("s3", "咳嗽气喘", "blk1"),
        ("s4", "头痛而胀", "blk2"),      # same text, other block -> NOT merged
    ]
    df = spark.createDataFrame(rows, "id string, text string, blk string")
    clusters = {r["component"]: r["members"] for r in
                cluster_symptom_like(df, "id", "text", "blk", 0.98).collect()}
    assert clusters == {"s1": "s1;s2"}


def test_ann_vs_bruteforce(spark):
    """q_ann_topk's Spark plan agrees with a numpy brute-force oracle."""
    import numpy as np
    from tcmkg.contract.generic import q_ann_topk

    sf = "/root/testdata/sf0.001"
    got = {(r["qid"], r["rk"]): r["neighbor"] for r in q_ann_topk(spark, sf).collect()}
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").toPandas()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.itertuples()}
    for qid in range(5):
        qv = vecs[qid]
        sims = sorted(
            (
                (-float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), vid)
                for vid, v in vecs.items() if vid >= 5
            )
        )[:3]
        for rk, (_, vid) in enumerate(sims, 1):
            assert got[(qid, rk)] == vid


def test_json_envelope_reader(spark, tmp_path):
    """S2: {"data": {...}} envelope unwrap + nested field access."""
    import json
    from pyspark.sql import functions as F
    from tcmkg.sources.readers import read_json_envelope

    p = tmp_path / "e.json"
    p.write_text(json.dumps({"data": {"name": "x", "props": {"k1": "v1"}}}))
    df = read_json_envelope(spark, str(p))
    row = df.select("name", F.col("props.k1").alias("k1")).collect()[0]
    assert (row["name"], row["k1"]) == ("x", "v1")


def test_literal_dict_kernel(spark):
    """P6: the vectorized literal-dict parse must match the reference's
    per-row semantics (ast.literal_eval + xrefs split on FIRST colon,
    per-database ';'-join, None when absent — merge_utility.py:263-287),
    including the true/false retry patch and malformed -> NULL."""
    from tcmkg.kernels.pydict import (
        extract_external_ids,
        parse_literal_dict,
        parse_literal_dict_py,
        prop_first,
    )

    # pure-Python cell semantics
    assert parse_literal_dict_py("{'a': 1, 'b': ['x', 'y']}") == {
        "a": ["1"], "b": ["x", "y"]
    }
    assert parse_literal_dict_py("{'ok': true, 'n': null}") == {
        "ok": ["True"], "n": ["None"]
    }
    assert parse_literal_dict_py("{'k': broken") is None
    assert parse_literal_dict_py("[1, 2]") is None  # non-dict literal
    assert parse_literal_dict_py(None) is None

    rows = [
        (0, "{'name': 'aspirin', 'xrefs': ['OMIM:1234', 'GO:GO:0001', 'OMIM:99'], 'flag': true}"),
        (1, "{'name': 'x', 'xrefs': []}"),
        (2, "{'name': 'y'}"),
        (3, "not a dict at all"),
    ]
    df = spark.createDataFrame(rows, "rid long, props string")
    parsed = df.select("rid", parse_literal_dict(F.col("props")).alias("p"))
    out = extract_external_ids(parsed, "p", ["OMIM", "GO"])
    got = {
        r["rid"]: (r["OMIM_id"], r["GO_id"], r["name"], r["flag"])
        for r in out.select(
            "rid", "OMIM_id", "GO_id",
            prop_first(F.col("p"), "name").alias("name"),
            prop_first(F.col("p"), "flag").alias("flag"),
        ).collect()
    }
    assert got[0] == ("1234;99", "GO:0001", "aspirin", "True")  # first-colon split
    assert got[1] == (None, None, "x", None)
    assert got[2] == (None, None, "y", None)
    assert got[3] == (None, None, None, None)


def _write_symmap_like_xlsx(path):
    """SymMap-shaped workbook written with stdlib zipfile only: shared
    strings, inline strings, numbers, booleans, and a gap cell."""
    import zipfile

    ct = """<?xml version="1.0"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
 <Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
 <Default Extension="xml" ContentType="application/xml"/>
 <Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
 <Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
 <Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
</Types>"""
    root_rels = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
 <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""
    wb = """<?xml version="1.0"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
 <sheets><sheet name="herb" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""
    wb_rels = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
 <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""
    sst = """<?xml version="1.0"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
 <si><t>Herb_id</t></si><si><t>Chinese_name</t></si><si><t>weight_g</t></si>
 <si><r><t>甘</t></r><r><t>草</t></r></si>
</sst>"""
    sheet = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData>
  <row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c><c r="D1" t="str"><v>active</v></c></row>
  <row r="2"><c r="A2"><v>101</v></c><c r="B2" t="s"><v>3</v></c><c r="C2"><v>3.5</v></c><c r="D2" t="b"><v>1</v></c></row>
  <row r="3"><c r="A3"><v>102</v></c><c r="B3" t="inlineStr"><is><t>人参</t></is></c><c r="D3" t="b"><v>0</v></c></row>
 </sheetData>
</worksheet>"""
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", ct)
        zf.writestr("_rels/.rels", root_rels)
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/sharedStrings.xml", sst)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


def test_excel_reader_end_to_end(spark, tmp_path):
    """S5 exercised for real: a SymMap-like workbook goes xlsx -> pandas ->
    Spark with no external engine, agreeing with its CSV-converted twin."""
    from tcmkg.sources.readers import read_csv, read_excel
    from tcmkg.sources.xlsx import read_xlsx

    x = str(tmp_path / "symmap_herb.xlsx")
    _write_symmap_like_xlsx(x)

    pdf = read_xlsx(x)
    assert list(pdf.columns) == ["Herb_id", "Chinese_name", "weight_g", "active"]
    assert pdf.loc[0, "Chinese_name"] == "甘草"  # multi-run shared string
    assert pdf.loc[1, "Chinese_name"] == "人参"  # inline string
    assert pdf.loc[0, "weight_g"] == 3.5 and pdf.loc[0, "Herb_id"] == 101
    import pandas as pd
    assert pd.isna(pdf.loc[1, "weight_g"])       # gap cell -> missing
    assert bool(pdf.loc[0, "active"]) and not bool(pdf.loc[1, "active"])

    df = read_excel(spark, x, sheet="herb")
    got = {r["Herb_id"]: (r["Chinese_name"], r["weight_g"], r["active"])
           for r in df.collect()}
    assert got == {101: ("甘草", 3.5, True), 102: ("人参", None, False)}

    # CSV-converted twin drives the documented fallback route
    c = tmp_path / "symmap_herb.csv"
    c.write_text(
        "Herb_id,Chinese_name,weight_g,active\n101,甘草,3.5,true\n102,人参,,false\n",
        encoding="utf-8",
    )
    twin = read_csv(spark, str(c),
                    schema="Herb_id int, Chinese_name string, weight_g double, active boolean")
    assert {tuple(r) for r in twin.collect()} == {
        (101, "甘草", 3.5, True), (102, "人参", None, False)
    }

    with pytest.raises(ValueError):
        read_xlsx(x, sheet="nope")


def test_multisource_merge_pipeline(spark, tmp_path):
    """EP1-analogue integration: four heterogeneous sources (CSV, TSV,
    xlsx, JSON tree) land as one record table, null soup normalized,
    duplicate records group-merged with A1/A2 fold semantics, then
    CC-canonicalized — the reference's multi-database ETL shape
    (extract_herb.py / extract_ingredient.py) end to end on this engine."""
    import json

    from pyspark.sql import functions as F
    from tcmkg.functions.merge import group_merge
    from tcmkg.pipeline.canonicalize import canonicalize
    from tcmkg.sources.readers import (
        normalize_nulls,
        read_csv,
        read_excel,
        read_json_tree,
        read_tsv,
    )

    # source 1: CSV (CPMCP-like)
    c = tmp_path / "a.csv"
    c.write_text(
        "record_id,names,symmap_id,extdb_id\n"
        "CSV1,甘草;国老,SM1,None\n"
        "CSV2,人参,SM2,-\n",
        encoding="utf-8",
    )
    s1 = read_csv(spark, str(c))
    # source 2: TSV (PharMeBINet-like) — shares SM1 with CSV1
    t = tmp_path / "b.tsv"
    t.write_text(
        "record_id\tnames\tsymmap_id\textdb_id\n"
        "TSV1\t甜草根\tSM1\tDB7\n"
        "TSV2\t白术\t\tDB9\n",
        encoding="utf-8",
    )
    s2 = read_tsv(spark, str(t))
    # source 3: xlsx (SymMap-like) — alias 国老 links to the 甘草 component
    from tests.test_ops import _write_symmap_like_xlsx  # same-module helper

    x = tmp_path / "c.xlsx"
    _write_symmap_like_xlsx(str(x))
    s3 = read_excel(spark, str(x), sheet="herb").select(
        F.concat(F.lit("XL"), F.col("Herb_id").cast("string")).alias("record_id"),
        F.col("Chinese_name").alias("names"),
        F.lit(None).cast("string").alias("symmap_id"),
        F.lit(None).cast("string").alias("extdb_id"),
    )
    # source 4: JSON tree (TCMBank-like) — id in the path
    jroot = tmp_path / "tree" / "herb"
    for rid, names, ext in (("J1", "川芎", "DB5"), ("J2", "白术;于术", "DB9")):
        d = jroot / rid
        d.mkdir(parents=True)
        (d / "meta.json").write_text(
            json.dumps({"names": names, "symmap_id": None, "extdb_id": ext})
        )
    s4 = read_json_tree(spark, str(tmp_path / "tree")).select(
        F.col("path_id").alias("record_id"), "names", "symmap_id", "extdb_id"
    )

    records = normalize_nulls(s1.unionByName(s2).unionByName(s3).unionByName(s4))
    # duplicate record ids fold with set-union semantics (none here, but the
    # A1 pass is part of the reference shape)
    merged = group_merge(records, "record_id", ["names", "symmap_id", "extdb_id"])

    rec2canon, alias2canon = canonicalize(merged.fillna(""), "IT")
    canon = {r["record_id"]: r["canonical_id"] for r in rec2canon.collect()}
    # CSV1 and TSV1 share symmap SM1 -> same canonical entity
    assert canon["CSV1"] == canon["TSV1"]
    # xlsx 甘草 record merges into the same entity via the shared name
    assert canon["XL101"] == canon["CSV1"]
    # TSV2 and J2 share extdb DB9 AND the name 白术 -> one entity
    assert canon["TSV2"] == canon["J2"]
    # unrelated herbs stay separate
    assert canon["J1"] != canon["CSV1"] and canon["J1"] != canon["TSV2"]
    # null soup really became NULLs (no 'None'/'-' tokens as keys)
    aliases = {r["alias"] for r in alias2canon.collect()}
    assert "None" not in aliases and "-" not in aliases
