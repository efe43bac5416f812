"""Reference-layout graph export: the output directory a user of the
reference pipeline receives (its merge scripts write ``merge_result_dir/
entity/<type>.csv`` and ``merge_result_dir/relation/<name>.csv``, each
relation as ``source_id,target_id[,dose],Relation_type`` — e.g.
extract_herb.py:596-651, extract_target.py:376-412,
merge_tcm_symptom.py:126-131, extract_prescription_herb_relation.py:102-111).

This module reproduces that directory as ONE partitioned write per side:

  out_dir/entity/ent_file=<type>/…        20 entity families
  out_dir/relation/rel_file=<name>/…      46 reference files + the two
                                          north-star core relations the
                                          reference does not export
                                          (herb_treats_disease,
                                          symptom_indicates_syndrome)

Scale notes (100 TB): the relation side is a single pass over the triples
frame — a derived file-name column + ``write.partitionBy`` routes rows to
their directory. Every write is first rebalanced by its file column (the
REBALANCE hint, one shuffle of O(edges), tiny next to the corpus that
produced them): AQE packs small relations together so each directory gets
about one file, and splits a huge relation into advisory-size files. The
dose-bearing contains file is split out as a second single-pass write
because its schema has one extra column (the reference's
prescription2medicinal_material.csv carries ``dose``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# entity_type (nodes_table) -> the reference's entity/<file>.csv stem
ENTITY_FILE_OF_TYPE = {
    "herb": "medicinal_material",
    "formula": "prescription",
    "symptom": "tcm_symptom",
    "mm_symptom": "mm_symptom",
    "syndrome": "syndrome",
    "disease": "disease",
    "ingredient": "ingredient",
    "target": "gene",
    "anatomy": "anatomy",
    "locus": "locus",
    "property": "properties",
    "flavour": "flavour",
    "tropism": "tropism",
    "toxicity": "toxicity",
    "pharm_class": "pharmacologic_class",
    "pathway": "pathway",
    "bioprocess": "biological_process",
    "cellcomp": "cellular_component",
    "molfunction": "molecular_function",
    "sideeffect": "sideeffect",
}

# predicate -> (reference relation/<file>.csv stem, reference Relation_type).
# Stems differing from the predicate come from the reference's file names;
# the one Relation_type that differs is the contains file
# (extract_prescription_herb_relation.py:105-107 labels it
# prescription_consistof_herb inside prescription2medicinal_material.csv).
_RENAMED = {
    "formula_contains_herb": ("prescription2medicinal_material",
                              "prescription_consistof_herb"),
    "prescription_treat_symptom": ("prescription2symptom", None),
    "prescription_treat_syndrome": ("prescription2syndrome", None),
    "herb_has_flavour": ("herb2flavour", None),
    "herb_has_property": ("herb2property", None),
    "tropism_of_herb": ("herb2tropism", None),
    "toxicity_of_herb": ("herb2toxicity", None),
    "herb_consistof_ingredient": ("herb2ingredient", None),
    "herb_treat_symptom": ("herb2symptom", None),
    "herb_treat_syndrome": ("herb2syndrome", None),
    "disease_present_symptom": ("disease2mm_symptom", None),
    "syndrome_present_symptom": ("syndrome2tcm_symptom", None),
    "pathway_lead_to_disease": ("pathway2disease", None),
    "tcm_symptom_map_mm_symptom": ("tcm_symptom2mm_symptom", None),
}

# predicates whose reference file stem equals the predicate name
_IDENTITY_STEMS = (
    "disease_is_a_disease",
    "ingredient_upregulate_gene", "ingredient_downregulate_gene",
    "ingredient_associate_gene", "ingredient_bind_gene",
    "ingredient_treat_disease", "ingredient_induce_disease",
    "ingredient_contraindicate_disease",
    "ingredient_belong_to_pharmacologic_class",
    "ingredient_cause_sideeffect", "ingredient_might_cause_sideeffect",
    "ingredient_resemble_ingredient", "ingredient_associate_ingredient",
    "ingredient_associate_pathway",
    "ingredient_associate_biological_process",
    "ingredient_associate_cellular_component",
    "ingredient_associate_molecular_function",
    "gene_regulate_gene", "gene_covary_gene", "gene_associate_gene",
    "gene_associate_pathway", "gene2biological_process",
    "gene2cell_component", "gene2molecular_function",
    "disease_upregulate_gene", "disease_downregulate_gene",
    "disease_associate_gene", "disease_resemble_disease",
    "anatomy_express_gene", "anatomy_upregulate_gene",
    "anatomy_downregulate_gene",
)

# north-star core relations with no reference export file — written under
# their own predicate name so the directory stays complete
_NORTH_STAR_ONLY = ("herb_treats_disease", "symptom_indicates_syndrome")

RELATION_FILE_OF_PRED = {
    **{p: stem for p, (stem, _rt) in _RENAMED.items()},
    **{p: p for p in _IDENTITY_STEMS},
    **{p: p for p in _NORTH_STAR_ONLY},
}
RELATION_TYPE_OF_PRED = {
    p: (rt or p) for p, (_stem, rt) in _RENAMED.items()
}

# the locus file is derived from entity names, not from the corpus —
# it arrives as a separate frame (KGPipeline.symptom_locus)
LOCUS_FILE = "tcm_symptom2locus"
LOCUS_RELATION_TYPE = "symptom_locus"  # merge_tcm_symptom.py:128

DOSE_PRED = "formula_contains_herb"
DOSE_PRED_FILE = RELATION_FILE_OF_PRED[DOSE_PRED]


def export_reference_layout(
    nodes: DataFrame,
    triples: DataFrame,
    out_dir: str,
    symptom_locus: DataFrame | None = None,
    fmt: str = "csv",
) -> dict[str, str]:
    """Write the reference's output directory from the node and triple
    frames. -> {"entity": path, "relation": path}.

    Three partitioned writes: entities (partitioned by family file), plain
    relations (partitioned by file stem, ``source_id,target_id,
    Relation_type``), and the dose-bearing contains file (its reference
    schema adds ``dose``)."""
    ent_path = os.path.join(out_dir, "entity")
    rel_path = os.path.join(out_dir, "relation")

    ent_map = F.create_map(
        *[F.lit(x) for k, v in ENTITY_FILE_OF_TYPE.items() for x in (k, v)]
    )
    ents = nodes.select(
        F.col("canonical_id").alias("TMDB_id"),
        F.array_join("names", ";").alias("names"),
        "symmap_id",
        "extdb_id",
        ent_map[F.col("entity_type")].alias("ent_file"),
    )
    _write(ents, ent_path, "ent_file", fmt)

    stem_map = F.create_map(
        *[F.lit(x) for k, v in RELATION_FILE_OF_PRED.items() for x in (k, v)]
    )
    rtype_map = F.create_map(
        *[F.lit(x) for k, v in RELATION_TYPE_OF_PRED.items() for x in (k, v)]
    )
    rel = triples.select(
        F.col("subj").alias("source_id"),
        F.col("obj").alias("target_id"),
        F.coalesce(rtype_map[F.col("pred")], F.col("pred")).alias("Relation_type"),
        stem_map[F.col("pred")].alias("rel_file"),
        "weight",
    )
    plain = rel.filter(F.col("rel_file") != DOSE_PRED_FILE).drop("weight")
    if symptom_locus is not None:
        plain = plain.unionByName(
            symptom_locus.select(
                F.col("subj").alias("source_id"),
                F.col("obj").alias("target_id"),
                F.lit(LOCUS_RELATION_TYPE).alias("Relation_type"),
                F.lit(LOCUS_FILE).alias("rel_file"),
            )
        )
    _write(plain, rel_path, "rel_file", fmt)

    dosed = rel.filter(F.col("rel_file") == DOSE_PRED_FILE).select(
        "source_id",
        "target_id",
        F.col("weight").alias("dose"),
        "Relation_type",
        "rel_file",
    )
    _write(dosed, rel_path, "rel_file", fmt, mode="append")

    return {"entity": ent_path, "relation": rel_path}


def _write(
    df: DataFrame, path: str, part_col: str, fmt: str, mode: str = "overwrite"
) -> None:
    w = df.hint("rebalance", part_col).write.partitionBy(part_col).mode(mode)
    if fmt == "csv":
        w.option("header", True).csv(path)
    else:
        w.parquet(path)


def read_relation(spark, out_dir: str, fmt: str = "csv") -> DataFrame:
    """Read the exported relation directory back as one frame (rel_file
    recovered from the partition column, plain + dose files unioned —
    the dose-bearing contains file has one extra column, and a CSV read
    does not merge schemas across files).

    Local-verification convenience: it lists partition directories with
    os.listdir, so it assumes a local filesystem. Production consumers of
    the export read per-file, exactly like users of the reference's
    merge_result_dir — the per-file schemas genuinely differ there too."""
    path = os.path.join(out_dir, "relation")
    dose_dir = f"{path}/rel_file={DOSE_PRED_FILE}"
    plain_dirs = [
        f"{path}/{d}"
        for d in os.listdir(path)
        if d.startswith("rel_file=") and d != f"rel_file={DOSE_PRED_FILE}"
    ]

    def _read(paths):
        r = spark.read.option("basePath", path)
        if fmt == "csv":
            return r.option("header", True).csv(paths)
        return r.parquet(*paths) if isinstance(paths, list) else r.parquet(paths)

    out = None
    if plain_dirs:
        out = _read(plain_dirs)
    if os.path.isdir(dose_dir):
        dosed = _read([dose_dir])
        out = (
            dosed if out is None
            else out.unionByName(dosed, allowMissingColumns=True)
        )
    return out
