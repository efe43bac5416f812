"""Reference-layout export: the directory a user of the reference's merge
scripts receives (entity/<type> + relation/<name>, source_id/target_id/
Relation_type columns, reference file stems) — full differential against
the in-memory node/triple frames."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

OUT = "/tmp/tcmkg_test_export"


@pytest.fixture(scope="module")
def exported(spark, pipeline, transcripts_pdf):
    shutil.rmtree(OUT, ignore_errors=True)
    triples = pipeline.triples(spark.createDataFrame(transcripts_pdf))
    paths = pipeline.export_reference_layout(triples, OUT)
    yield triples, paths
    shutil.rmtree(OUT, ignore_errors=True)


def test_relation_files_match_reference_inventory(spark, exported):
    from tcmkg.pipeline.export import RELATION_FILE_OF_PRED, LOCUS_FILE

    triples, paths = exported
    dirs = {
        d.split("rel_file=")[1]
        for d in os.listdir(paths["relation"])
        if d.startswith("rel_file=")
    }
    # every predicate with >=1 edge must land in its reference stem; the
    # locus file is corpus-independent and always present
    preds = {r["pred"] for r in triples.select("pred").distinct().collect()}
    want = {RELATION_FILE_OF_PRED[p] for p in preds} | {LOCUS_FILE}
    assert dirs == want
    # the reference's own stems (no predicate-named leakage where a
    # reference file exists)
    assert "prescription2medicinal_material" in dirs
    assert "disease2mm_symptom" in dirs
    assert "formula_contains_herb" not in dirs


def test_relation_rows_roundtrip(spark, exported):
    from tcmkg.pipeline.export import (
        DOSE_PRED,
        LOCUS_FILE,
        LOCUS_RELATION_TYPE,
        RELATION_FILE_OF_PRED,
        RELATION_TYPE_OF_PRED,
        read_relation,
    )

    triples, paths = exported
    back = read_relation(spark, OUT)
    got = {
        (r["rel_file"], r["source_id"], r["target_id"], r["Relation_type"])
        for r in back.select(
            "rel_file", "source_id", "target_id", "Relation_type"
        ).collect()
    }
    want = {
        (
            RELATION_FILE_OF_PRED[r["pred"]],
            r["subj"],
            r["obj"],
            RELATION_TYPE_OF_PRED.get(r["pred"], r["pred"]),
        )
        for r in triples.collect()
    } | {
        (LOCUS_FILE, r["subj"], r["obj"], LOCUS_RELATION_TYPE)
        for r in exported_locus(spark)
    }
    assert got == want
    # the contains file carries the dose column, others do not
    dosed = back.filter(
        F.col("rel_file") == RELATION_FILE_OF_PRED[DOSE_PRED]
    )
    assert "dose" in dosed.columns
    n_with_dose = dosed.filter(F.col("dose").isNotNull()).count()
    assert n_with_dose > 0


def exported_locus(spark):
    # recompute the corpus-independent locus edges for the expectation
    from tcmkg.fixtures.gazetteers import build_gazetteers
    from tcmkg.pipeline.runner import KGPipeline

    return KGPipeline(spark, build_gazetteers()).symptom_locus().collect()


def test_entity_files_cover_all_20_families(spark, exported):
    from tcmkg.pipeline.export import ENTITY_FILE_OF_TYPE

    _, paths = exported
    dirs = {
        d.split("ent_file=")[1]
        for d in os.listdir(paths["entity"])
        if d.startswith("ent_file=")
    }
    assert dirs == set(ENTITY_FILE_OF_TYPE.values())
    assert len(dirs) == 20
    # read back one family and compare ids to the node table
    ents = (
        spark.read.option("header", True)
        .csv(paths["entity"])
        .filter(F.col("ent_file") == "medicinal_material")
    )
    got_ids = {r["TMDB_id"] for r in ents.select("TMDB_id").collect()}
    from tcmkg.fixtures.gazetteers import build_gazetteers
    from tcmkg.pipeline.runner import KGPipeline

    nodes = KGPipeline(spark, build_gazetteers()).nodes_table()
    want_ids = {
        r["canonical_id"]
        for r in nodes.filter(F.col("entity_type") == "herb").collect()
    }
    assert got_ids == want_ids


def test_export_bounds_small_files(spark, pipeline, exported):
    """The writer clusters rows by file: triples scattered over 16
    partitions still export 1-2 data files per directory, with the row
    set identical to the reference export."""
    from tcmkg.pipeline.export import read_relation

    triples, _ = exported
    out2 = OUT + "_scattered"
    shutil.rmtree(out2, ignore_errors=True)
    try:
        pipeline.export_reference_layout(triples.repartition(16), out2)
        for side in ("entity", "relation"):
            root = os.path.join(out2, side)
            for d in os.listdir(root):
                if "=" not in d:
                    continue
                parts = [
                    f for f in os.listdir(os.path.join(root, d))
                    if f.endswith(".csv")
                ]
                assert 1 <= len(parts) <= 2, (side, d, parts)
        a = read_relation(spark, OUT).select(
            "rel_file", "source_id", "target_id"
        )
        b = read_relation(spark, out2).select(
            "rel_file", "source_id", "target_id"
        )
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    finally:
        shutil.rmtree(out2, ignore_errors=True)
