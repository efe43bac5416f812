"""Mention rows -> final (subj, pred, obj, weight) triples.

All dataflow here is native Spark SQL (codegen'd, partially-aggregated):

  formula_contains_herb   dose weighting per the reference
                          (process_dose_unit.py:176-210): formulas with any
                          ml-unit or unparseable linked dose get null
                          weights; else weight = amount/formula_total,
                          summed per (formula, herb).
  prescription_treat_symptom  不渴-line drop
                          (add_more_prescription_symptom_map.py:67-80) +
                          >=50-distinct-symptom degree cap
                          (merge_tcm_symptom.py:289-294).
  herb_treats_disease     treats minus (treats ∩ induces)
                          (extract_ingredient.py:514-515 semantics).
  disease_is_a_disease    bidirectional pairs dropped from both sides
                          (extract_disease.py:288-294 + merge_utility.py:11-34).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import salted_distinct_count

DEGREE_CAP = 50


PRED_OF_KIND = {
    "contains": "formula_contains_herb",
    "p_symptom": "prescription_treat_symptom",
    "p_syndrome": "prescription_treat_syndrome",
    "treats": "herb_treats_disease",
    "indicates": "symptom_indicates_syndrome",
    "is_a": "disease_is_a_disease",
    # herb→dimension families (reference extract_herb.py:587-651 emits these
    # four Relation_types from attribute dict lookups; here the kernel parses
    # them out of statement text — kernels/dims.py)
    "has_flavour": "herb_has_flavour",
    "has_property": "herb_has_property",
    "tropism_of": "tropism_of_herb",
    "toxicity_of": "toxicity_of_herb",
    # derived-entity → derived-entity families (both endpoints extracted
    # from text and CC-canonicalized through their own alias→canonical map):
    # reference herb2ingredient (extract_ingredient.py:311-317) and the
    # ingredient→gene relations (extract_target.py:376-417)
    "consistof": "herb_consistof_ingredient",
    "up_gene": "ingredient_upregulate_gene",
    "down_gene": "ingredient_downregulate_gene",
    "assoc_gene": "ingredient_associate_gene",
    # ingredient→disease three-way family (extract_ingredient.py:514-542)
    "i_treat": "ingredient_treat_disease",
    "i_induce": "ingredient_induce_disease",
    "i_contra": "ingredient_contraindicate_disease",
    # ingredient→pharm-class (extract_ingredient.py:451-460, both
    # directions set-merged)
    "pclass": "ingredient_belong_to_pharmacologic_class",
    # gene↔gene family (extract_target.py:425-493): directional sets plain,
    # associate carries the either-direction kill + symmetric dedup
    "gg_reg": "gene_regulate_gene",
    "gg_cov": "gene_covary_gene",
    "gg_assoc": "gene_associate_gene",
    # disease→gene family (extract_target.py:520-607): associate =
    # assoc − up − down (plain priority subtraction)
    "dg_up": "disease_upregulate_gene",
    "dg_down": "disease_downregulate_gene",
    "dg_assoc": "disease_associate_gene",
    # gene→pathway/GO families (extract_target.py:653-761): each predicate
    # is a UNION of relation sources (multiple markers land in one kind
    # at extraction time, so these are plain distinct pairs here)
    "g_pathway": "gene_associate_pathway",
    "g_bioproc": "gene2biological_process",
    "g_cellcomp": "gene2cell_component",
    "g_molfunc": "gene2molecular_function",
    # anatomy→gene (extract_target.py:612-658 EXPRESSES_AeG)
    "anat_express": "anatomy_express_gene",
    # fourth ingredient→gene set (extract_target.py:303-308 BINDS_CHbG;
    # :405-411 subtracts it from associate)
    "bind_gene": "ingredient_bind_gene",
    # ingredient→side-effect certainty pair (extract_ingredient.py:684-735
    # CAUSES_CHcSE / MIGHT_CAUSES_CHmcSE — both published, no de-conflict)
    "i_cause_se": "ingredient_cause_sideeffect",
    "i_might_se": "ingredient_might_cause_sideeffect",
    # anatomy up/down-regulate gene (extract_target.py:612-658 family)
    "anat_up": "anatomy_upregulate_gene",
    "anat_down": "anatomy_downregulate_gene",
    # resemble families: disease loses pairs present (either direction) in
    # the published is_a set (extract_disease.py:311-317); ingredient
    # mutual-collapses (extract_ingredient.py:354-361)
    "dis_resemble": "disease_resemble_disease",
    "ing_resemble": "ingredient_resemble_ingredient",
    # ingredient interact, mutual-collapsed (extract_ingredient.py:375-391)
    "ing_interact": "ingredient_associate_ingredient",
    # herb→symptom/syndrome treats (merge_tcm_symptom.py:206,
    # extract_syndrome.py:41-53)
    "h_symptom": "herb_treat_symptom",
    "h_syndrome": "herb_treat_syndrome",
    # disease/syndrome present symptom (extract_disease.py:240-267,
    # merge_tcm_symptom.py:243-261)
    "dis_present": "disease_present_symptom",
    "syn_present": "syndrome_present_symptom",
    # pathway→disease (extract_disease.py:335-347)
    "pw_disease": "pathway_lead_to_disease",
    # ingredient→pathway/GO quad (extract_ingredient.py:550-676); the
    # BP/CC/MF kinds already union three statement markers in the kernel
    "i_pathway": "ingredient_associate_pathway",
    "i_bioproc": "ingredient_associate_biological_process",
    "i_cellcomp": "ingredient_associate_cellular_component",
    "i_molfunc": "ingredient_associate_molecular_function",
    # tcm_symptom ↔ mm_symptom mapping (merge_tcm_symptom.py:213-239
    # tcm_symptom_map_mm_symptom): both statement directions land in the
    # one kind at extraction, so the shared dedup is the set union
    "ts_mm": "tcm_symptom_map_mm_symptom",
}


def reduce_mentions(mentions: DataFrame) -> DataFrame:
    """ONE shuffle collapses the whole mention stream to O(distinct
    (kind, subj, obj)) rows carrying everything assembly needs: the
    deduped pair set for all non-weighted predicates AND the dose totals
    (sum amt/n_null/n_ml) for the contains weighting — previously two
    separate full passes + shuffles over the mention stream (a distinct
    and a groupBy). 不渴-flagged symptom rows are dropped first (their
    pair may still survive via a clean line — pair-level union
    semantics, see oracle contract); 'unlinked' diagnostics never feed
    assembly. Map-side combinable throughout, so the shuffle moves
    O(distinct pairs) rows regardless of corpus size."""
    return (
        mentions.filter(
            (F.col("kind") != "unlinked")
            & ~((F.col("kind") == "p_symptom") & F.col("buke"))
            # a pair needs both ends: NULL keys would co-group in the
            # grouped assembly (see _assemble_grouped)
            & F.col("subj").isNotNull()
            & F.col("obj").isNotNull()
        )
        .groupBy("kind", "subj", "obj")
        .agg(
            F.sum("amt_sum").alias("amt"),
            F.sum("n_null").alias("n_null"),
            F.sum("n_ml").alias("n_ml"),
        )
    )


def _pairs(pairs: DataFrame, kind: str) -> DataFrame:
    return pairs.filter(F.col("kind") == kind).select("subj", "obj")


def contains_edges(reduced: DataFrame) -> DataFrame:
    """Dose weighting from the reduced per-(subj, obj) totals (the reduce
    step of sum(amt_i)/formula_total, already folded by reduce_mentions).
    A formula with any unparseable or ml-unit dose gets null weights
    (reference: process_dose_unit.py:181-201)."""
    c = reduced.filter(F.col("kind") == "contains").select(
        "subj", "obj", "amt", "n_null", "n_ml"
    )
    per_formula = c.groupBy("subj").agg(
        F.max(F.when((F.col("n_null") > 0) | (F.col("n_ml") > 0), 1).otherwise(0)).alias("dropped"),
        F.sum("amt").alias("total"),
    )
    # per-formula stats are tiny relative to the pair set -> broadcast
    enriched = c.join(F.broadcast(per_formula), "subj")
    return enriched.select(
        "subj",
        "obj",
        F.when(
            (F.col("dropped") == 0) & (F.col("total") > 0), F.col("amt") / F.col("total")
        ).alias("weight"),
    )


def p_symptom_edges(pairs: DataFrame) -> DataFrame:
    kept = _pairs(pairs, "p_symptom")
    deg = salted_distinct_count(kept, ["subj"], "obj", "n_sym")
    ok = deg.filter(F.col("n_sym") < DEGREE_CAP).select("subj")
    return kept.join(F.broadcast(ok), "subj", "left_semi")


# kinds that publish as PLAIN set-deduped pairs — no weighting, cap, or
# conflict algebra (the reference writes each as pd.DataFrame(set(pairs))).
# This includes the pass-through halves of the algebra families: bind
# (published unfiltered, extract_target.py:303-308), gene↔gene regulate/
# covary and disease→gene up/down (the directional sets are emitted as-is;
# only their associate siblings are filtered). The multi-marker unions
# (参与∪驱动, the GO 3-kind unions, both pclass and ts_mm statement
# directions) already collapsed into one kind at extraction, so the shared
# dedup IS the set union.
_PLAIN_KINDS = (
    "p_syndrome", "indicates",
    "has_flavour", "has_property", "tropism_of", "toxicity_of",
    "consistof", "pclass", "bind_gene",
    "gg_reg", "gg_cov", "dg_up", "dg_down",
    "g_pathway", "g_bioproc", "g_cellcomp", "g_molfunc", "anat_express",
    "i_cause_se", "i_might_se", "anat_up", "anat_down",
    "h_symptom", "h_syndrome", "dis_present", "syn_present", "pw_disease",
    "i_pathway", "i_bioproc", "i_cellcomp", "i_molfunc", "ts_mm",
)


def _lab(df: DataFrame, pred: str, weight=None) -> DataFrame:
    """Label a pair frame as (subj, pred, obj, weight), the published-row
    shape."""
    w = F.col("weight") if weight else F.lit(None).cast("double")
    return df.select(
        "subj", F.lit(pred).alias("pred"), "obj", w.alias("weight")
    )


def assemble_triples(mentions: DataFrame) -> DataFrame:
    """-> (subj, pred, obj, weight double).

    Plan shape (r6): the raw mention stream is consumed exactly ONCE — by
    reduce_mentions' single combinable groupBy — and the resulting
    O(distinct pairs) frame is localCheckpoint'ed: the one big pass runs
    eagerly here, and every downstream reference plans over a TINY LEAF
    instead of re-analyzing or re-executing the full upstream tree
    (transcriptize + window chain + Arrow kernel). The de-conflict
    algebra itself runs in the GROUPED formulation (_assemble_grouped):
    one orientation-tagged aggregation + row-local boolean predicate
    emission instead of ~25 tiny joins — see that docstring. The
    checkpointed partitions are freed by the ContextCleaner when the
    caller drops the returned frame."""
    reduced = reduce_mentions(mentions).localCheckpoint()
    return _assemble_grouped(reduced)


# kinds whose published set depends on the REVERSED pair's kinds; the
# grouped fold tags these kinds' reverse orientation into the same group
# so the algebra stays row-local
_REV_KINDS = ("is_a", "gg_reg", "gg_cov", "gg_assoc", "ing_resemble", "ing_interact")


def _assemble_grouped(reduced: DataFrame) -> DataFrame:
    """The grouped formulation of the 47-family predicate algebra (r6).

    Every de-conflict rule is per-(subj, obj) set logic over kind
    membership — including the reversed-pair rules, whose lookups become
    membership of an orientation-tagged `<kind>~r` marker emitted into the
    SAME group. So the whole algebra collapses to ONE combinable
    aggregation (guide §2.4: operations keyed the same way share one
    exchange) + a row-local boolean projection per family + one explode:

        kinds(subj, obj) = collect_set over {kind} ∪ {kind~r of (obj,subj)}
        publish family f at (s, o)  iff  f's boolean over kinds(s, o)

    It replaced ~25 anti/semi joins that each ran as their own tiny AQE
    broadcast-build job (62 jobs per triples leg at sf0.1, now 13).
    Only contains (per-formula dose totals) and p_symptom (per-subject
    degree cap) keep arms: their rules aggregate across DIFFERENT keys.
    The reference rules are the oracle's `publish` (oracle/extractor.py);
    a differential test holds this fold to it on real extractions, and the
    per-family DuckDB oracle hashes pin it too (kg_all_edges covers all 47
    families in one hash). Scale shape: the one shuffle moves O(distinct
    pairs) rows; collect_set fan-in is bounded by the kind vocabulary
    (≤ 2×47), so there are no hot keys. NULL pair keys would co-group;
    reduce_mentions' filter drops rows with a NULL subj or obj, so
    `reduced` never carries one."""
    pairs = reduced.filter(F.col("kind") != "contains").select(
        "kind", "subj", "obj"
    )
    rev = (
        pairs.filter(F.col("kind").isin(*_REV_KINDS))
        .select(
            F.concat(F.col("kind"), F.lit("~r")).alias("kind"),
            F.col("obj").alias("subj"),
            F.col("subj").alias("obj"),
        )
    )
    ks = (
        pairs.unionByName(rev)
        .groupBy("subj", "obj")
        .agg(F.collect_set("kind").alias("ks"))
    )

    def has(k: str):
        return F.array_contains("ks", k)

    def hasr(k: str):
        return F.array_contains("ks", k + "~r")

    # one boolean per published family
    cond: dict[str, object] = {k: has(k) for k in _PLAIN_KINDS}
    # treats minus (treats ∩ induces) (extract_ingredient.py:514-515)
    cond["treats"] = has("treats") & ~has("induces")
    # ingredient→gene (extract_target.py:365-372 + 404-411): up∩down
    # conflicts leave both directional sets and move to associate;
    # associate = (assoc ∪ conflict) − up_f − down_f − bind (specific
    # beats generic); bind publishes unfiltered (a plain kind)
    up_f = has("up_gene") & ~has("down_gene")
    down_f = has("down_gene") & ~has("up_gene")
    cond["up_gene"] = up_f
    cond["down_gene"] = down_f
    cond["assoc_gene"] = (
        (has("assoc_gene") | (has("up_gene") & has("down_gene")))
        & ~up_f & ~down_f & ~has("bind_gene")
    )
    # ingredient→disease (extract_ingredient.py:514-542): conflict =
    # treat ∩ (induce ∪ contra), dropped from all three sets; an
    # induce∩contra pair with no treat claim survives in both
    id_bad = has("i_induce") | has("i_contra")
    id_conflict = has("i_treat") & id_bad
    cond["i_treat"] = has("i_treat") & ~id_bad
    cond["i_induce"] = has("i_induce") & ~id_conflict
    cond["i_contra"] = has("i_contra") & ~id_conflict
    # gene↔gene (extract_target.py:453-486): associate loses pairs in
    # either direction in reg/cov, then mutual survivors collapse to the
    # subj<obj direction (the reference keeps whichever direction set
    # iteration yields first, :476-483 — same set, documented divergence)
    gg_kill = has("gg_reg") | has("gg_cov") | hasr("gg_reg") | hasr("gg_cov")
    gg_a1 = has("gg_assoc") & ~gg_kill
    gg_a1_rev = hasr("gg_assoc") & ~gg_kill
    cond["gg_assoc"] = gg_a1 & ~(gg_a1_rev & (F.col("subj") > F.col("obj")))
    # disease→gene (extract_target.py:597-601): assoc − up − down
    cond["dg_assoc"] = has("dg_assoc") & ~has("dg_up") & ~has("dg_down")
    # is_a: bidirectional pairs dropped from both sides
    # (extract_disease.py:288-294 + merge_utility.py:11-34)
    isa_f = has("is_a") & ~hasr("is_a")
    isa_f_rev = hasr("is_a") & ~has("is_a")
    cond["is_a"] = isa_f
    # disease resemble minus either-direction PUBLISHED is_a
    # (extract_disease.py:311-317 checks the final relation)
    cond["dis_resemble"] = has("dis_resemble") & ~(isa_f | isa_f_rev)
    # mutual pairs collapse to subj<obj: drop (a,b) when (b,a) is also
    # present and a > b (extract_ingredient.py:354-361, 375-383)
    for k in ("ing_resemble", "ing_interact"):
        cond[k] = has(k) & ~(hasr(k) & (F.col("subj") > F.col("obj")))

    pred_arr = F.array(
        *[F.when(c, F.lit(PRED_OF_KIND[k])) for k, c in cond.items()]
    )
    grouped = ks.select(
        "subj",
        F.explode(F.filter(pred_arr, lambda x: x.isNotNull())).alias("pred"),
        "obj",
        F.lit(None).cast("double").alias("weight"),
    )

    return (
        _lab(contains_edges(reduced), PRED_OF_KIND["contains"], weight=True)
        .unionByName(_lab(p_symptom_edges(pairs), PRED_OF_KIND["p_symptom"]))
        .unionByName(grouped)
    )
