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


def treats_edges(pairs: DataFrame) -> DataFrame:
    treats = _pairs(pairs, "treats")
    induces = _pairs(pairs, "induces")
    return treats.join(induces, ["subj", "obj"], "left_anti")


def gene_edges(
    pairs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Ingredient→gene de-conflict algebra (reference extract_target.py:
    365-372 + 404-411): up∩down pairs are CONFLICTS — removed from both
    directional sets and moved into associate; associate then loses any
    pair that survives in a directional set OR in bind (specific beats
    generic; the reference's final = assoc − down − up − bind). Bind is
    published unfiltered, like the directional sets.

    -> (upregulate, downregulate, associate, bind) pair frames. All inputs
    are the deduped pair frame (O(distinct pairs), tiny next to the
    corpus), so these anti/semi joins never touch the mention stream."""
    up = _pairs(pairs, "up_gene")
    down = _pairs(pairs, "down_gene")
    assoc = _pairs(pairs, "assoc_gene")
    bind = _pairs(pairs, "bind_gene")
    conflict = up.join(down, ["subj", "obj"], "left_semi")
    up_f = up.join(down, ["subj", "obj"], "left_anti")
    down_f = down.join(up, ["subj", "obj"], "left_anti")
    assoc_f = (
        assoc.unionByName(conflict)
        .dropDuplicates(["subj", "obj"])
        .join(up_f, ["subj", "obj"], "left_anti")
        .join(down_f, ["subj", "obj"], "left_anti")
        .join(bind, ["subj", "obj"], "left_anti")
    )
    return up_f, down_f, assoc_f, bind


def ingredient_disease_edges(
    pairs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Ingredient→disease three-way de-conflict (reference
    extract_ingredient.py:514-542): conflict = treats ∩ (induces ∪
    contraindicates); conflicted pairs are DROPPED from all three sets
    (unlike the gene algebra, nothing moves to a generic bucket). The rule
    is asymmetric by design: an induces∩contraindicates pair with no
    treats claim survives in BOTH directional sets.

    -> (treat, induce, contraindicate) pair frames over the deduped pair
    frame — anti/semi joins on O(distinct pairs) rows only."""
    treat = _pairs(pairs, "i_treat")
    induce = _pairs(pairs, "i_induce")
    contra = _pairs(pairs, "i_contra")
    bad = induce.unionByName(contra).dropDuplicates(["subj", "obj"])
    conflict = treat.join(bad, ["subj", "obj"], "left_semi")
    treat_f = treat.join(bad, ["subj", "obj"], "left_anti")
    induce_f = induce.join(conflict, ["subj", "obj"], "left_anti")
    contra_f = contra.join(conflict, ["subj", "obj"], "left_anti")
    return treat_f, induce_f, contra_f


def _swap(df: DataFrame) -> DataFrame:
    return df.select(F.col("obj").alias("subj"), F.col("subj").alias("obj"))


def _collapse_mutual(df: DataFrame) -> DataFrame:
    """Symmetric dedup: when both (a,b) and (b,a) are present, keep only
    the subj<obj direction. The reference's remove_rel loop
    (extract_ingredient.py:354-361, 375-383; extract_target.py:476-483)
    keeps whichever direction set iteration yields first — output as a SET
    is the same; the kept direction here is deterministic (documented
    divergence). Runs on deduped pair frames only."""
    hi = df.join(_swap(df), ["subj", "obj"], "left_semi").filter(
        F.col("subj") > F.col("obj")
    )
    return df.join(hi, ["subj", "obj"], "left_anti")


def gene_gene_edges(pairs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Gene↔gene de-conflict algebra (reference extract_target.py:453-486):
    associate = (interacts ∪ protein_protein mentions) minus every pair
    present — IN EITHER DIRECTION — in covary or regulate; then mutual
    associate pairs (both (a,b) and (b,a) survive) collapse to ONE edge.
    The reference keeps an iteration-order-dependent direction
    (:476-483); here the kept direction is the deterministic subj<obj one
    (documented divergence — output is a set either way, the reference's
    choice is just whatever set order yields).

    -> (regulate, covary, associate). Directional sets pass through
    unfiltered, as in the reference. All joins run on the deduped pair
    frame: O(distinct pairs), never the mention stream."""
    reg = _pairs(pairs, "gg_reg")
    cov = _pairs(pairs, "gg_cov")
    assoc = _pairs(pairs, "gg_assoc")
    directional = reg.unionByName(cov)
    kill = directional.unionByName(_swap(directional)).dropDuplicates(
        ["subj", "obj"]
    )
    assoc1 = assoc.join(kill, ["subj", "obj"], "left_anti")
    # symmetric dedup: drop (a,b) when (b,a) also survives and a > b
    return reg, cov, _collapse_mutual(assoc1)


def disease_gene_edges(pairs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Disease→gene priority subtraction (reference extract_target.py:
    597-601: associate = set(assoc) − set(up) − set(down); the directional
    sets are emitted as-is). -> (up, down, associate)."""
    up = _pairs(pairs, "dg_up")
    down = _pairs(pairs, "dg_down")
    assoc = (
        _pairs(pairs, "dg_assoc")
        .join(up, ["subj", "obj"], "left_anti")
        .join(down, ["subj", "obj"], "left_anti")
    )
    return up, down, assoc


def is_a_edges(pairs: DataFrame) -> DataFrame:
    p = _pairs(pairs, "is_a")
    swapped = p.select(F.col("obj").alias("subj"), F.col("subj").alias("obj"))
    return p.join(swapped, ["subj", "obj"], "left_anti")


def disease_resemble_edges(pairs: DataFrame, isa_final: DataFrame) -> DataFrame:
    """disease_resemble_disease loses any pair present — in either
    direction — in the PUBLISHED disease_is_a_disease set (reference
    extract_disease.py:311-317 checks the final relation, not raw
    mentions). Anti-join over two deduped pair frames."""
    res = _pairs(pairs, "dis_resemble")
    kill = isa_final.unionByName(_swap(isa_final)).dropDuplicates(
        ["subj", "obj"]
    )
    return res.join(kill, ["subj", "obj"], "left_anti")


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
    """Label a pair frame as (subj, pred, obj, weight) — the single
    published-row shape both assembly formulations emit (one definition so
    the differential-reference path cannot drift from the production one)."""
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


def _assemble_joins(reduced: DataFrame) -> DataFrame:
    """The r5 arm-union formulation of the predicate algebra: one union
    arm per weighted/capped/de-conflicted family, each made of anti/semi
    joins over the deduped pair frame (the helper functions above are the
    per-family specs, each pinned by its own test). Kept as the
    DIFFERENTIAL REFERENCE for `_assemble_grouped`, which computes the
    same 47 families without the joins — test_triples_grouped_matches_
    joins asserts row-set equality on real extractions."""
    pairs = reduced.filter(F.col("kind") != "contains").select(
        "kind", "subj", "obj"
    )

    pred_map = F.create_map(
        *[F.lit(x) for k in _PLAIN_KINDS for x in (k, PRED_OF_KIND[k])]
    )
    plain = pairs.filter(F.col("kind").isin(*_PLAIN_KINDS)).select(
        "subj",
        pred_map[F.col("kind")].alias("pred"),
        "obj",
        F.lit(None).cast("double").alias("weight"),
    )

    parts = [
        _lab(contains_edges(reduced), PRED_OF_KIND["contains"], weight=True),
        _lab(p_symptom_edges(pairs), PRED_OF_KIND["p_symptom"]),
        _lab(treats_edges(pairs), PRED_OF_KIND["treats"]),
        plain,
    ]
    # algebra families: only the FILTERED/derived outputs get arms; their
    # plain pass-through siblings (bind, gg_reg/gg_cov, dg_up/dg_down)
    # already shipped in the bulk arm above
    up_f, down_f, assoc_f, _bind = gene_edges(pairs)
    it_f, ii_f, ic_f = ingredient_disease_edges(pairs)
    _gr, _gc, ga_f = gene_gene_edges(pairs)
    _du, _dd, da_f = disease_gene_edges(pairs)
    parts += [
        _lab(up_f, PRED_OF_KIND["up_gene"]),
        _lab(down_f, PRED_OF_KIND["down_gene"]),
        _lab(assoc_f, PRED_OF_KIND["assoc_gene"]),
        _lab(it_f, PRED_OF_KIND["i_treat"]),
        _lab(ii_f, PRED_OF_KIND["i_induce"]),
        _lab(ic_f, PRED_OF_KIND["i_contra"]),
        _lab(ga_f, PRED_OF_KIND["gg_assoc"]),
        _lab(da_f, PRED_OF_KIND["dg_assoc"]),
    ]
    # is_a feeds both its own predicate and the disease-resemble kill set
    isa_f = is_a_edges(pairs)
    parts += [
        _lab(isa_f, PRED_OF_KIND["is_a"]),
        _lab(disease_resemble_edges(pairs, isa_f), PRED_OF_KIND["dis_resemble"]),
        _lab(_collapse_mutual(_pairs(pairs, "ing_resemble")),
            PRED_OF_KIND["ing_resemble"]),
        _lab(_collapse_mutual(_pairs(pairs, "ing_interact")),
            PRED_OF_KIND["ing_interact"]),
    ]
    # balanced union tree: analyzer cost grows with tree DEPTH × size, so
    # pairing arms (depth log n) beats the left-deep chain (depth n)
    while len(parts) > 1:
        parts = [
            parts[i].unionByName(parts[i + 1]) if i + 1 < len(parts) else parts[i]
            for i in range(0, len(parts), 2)
        ]
    return parts[0]


# kinds whose published set depends on the REVERSED pair's kinds (swap
# joins in the arm formulation); the grouped fold tags these kinds'
# reverse orientation into the same group so the algebra stays row-local
_REV_KINDS = ("is_a", "gg_reg", "gg_cov", "gg_assoc", "ing_resemble", "ing_interact")


def _assemble_grouped(reduced: DataFrame) -> DataFrame:
    """The grouped formulation of the 47-family predicate algebra (r6).

    Every de-conflict rule above is per-(subj, obj) set logic over kind
    membership — including the swap joins, whose reversed-pair lookups
    become membership of an orientation-tagged `<kind>~r` marker emitted
    into the SAME group. So the whole algebra collapses to ONE combinable
    aggregation (guide §2.4: operations keyed the same way share one
    exchange) + a row-local boolean projection per family + one explode:

        kinds(subj, obj) = collect_set over {kind} ∪ {kind~r of (obj,subj)}
        publish family f at (s, o)  iff  f's boolean over kinds(s, o)

    vs the arm-union's ~25 anti/semi joins, each of which executed as its
    own tiny AQE broadcast-build job (~60 ms of scheduling latency apiece
    at sf0.1 — 62 jobs/leg measured, nearly all of them this algebra).
    Only contains (per-formula dose totals) and p_symptom (per-subject
    degree cap) keep arms: their rules aggregate across DIFFERENT keys.
    Equivalence with the join formulation is pinned by a differential
    test on real extractions and by the per-family DuckDB oracle hashes
    (kg_all_edges covers all 47 families in one hash). Scale shape: the
    one shuffle moves O(distinct pairs) rows; collect_set fan-in is
    bounded by the kind vocabulary (≤ 2×47), so there are no hot keys.
    NULL pair keys would group where the join form kept them apart;
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

    # one boolean per published family, mirroring the helper functions
    # above term by term (they remain the executable spec + test surface)
    cond: dict[str, object] = {k: has(k) for k in _PLAIN_KINDS}
    # treats_edges: treats anti induces
    cond["treats"] = has("treats") & ~has("induces")
    # gene_edges: conflict = up∩down; directional sets lose conflicts;
    # associate = (assoc ∪ conflict) − up_f − down_f − bind
    up_f = has("up_gene") & ~has("down_gene")
    down_f = has("down_gene") & ~has("up_gene")
    cond["up_gene"] = up_f
    cond["down_gene"] = down_f
    cond["assoc_gene"] = (
        (has("assoc_gene") | (has("up_gene") & has("down_gene")))
        & ~up_f & ~down_f & ~has("bind_gene")
    )
    # ingredient_disease_edges: conflict = treat ∩ (induce ∪ contra),
    # dropped from all three sets
    id_bad = has("i_induce") | has("i_contra")
    id_conflict = has("i_treat") & id_bad
    cond["i_treat"] = has("i_treat") & ~id_bad
    cond["i_induce"] = has("i_induce") & ~id_conflict
    cond["i_contra"] = has("i_contra") & ~id_conflict
    # gene_gene_edges: associate loses either-direction reg/cov (the kill
    # set is direction-symmetric), then mutual survivors collapse to the
    # subj<obj direction
    gg_kill = has("gg_reg") | has("gg_cov") | hasr("gg_reg") | hasr("gg_cov")
    gg_a1 = has("gg_assoc") & ~gg_kill
    gg_a1_rev = hasr("gg_assoc") & ~gg_kill
    cond["gg_assoc"] = gg_a1 & ~(gg_a1_rev & (F.col("subj") > F.col("obj")))
    # disease_gene_edges: assoc − up − down
    cond["dg_assoc"] = has("dg_assoc") & ~has("dg_up") & ~has("dg_down")
    # is_a_edges: bidirectional pairs dropped from both sides
    isa_f = has("is_a") & ~hasr("is_a")
    isa_f_rev = hasr("is_a") & ~has("is_a")
    cond["is_a"] = isa_f
    # disease_resemble_edges: resemble minus either-direction PUBLISHED is_a
    cond["dis_resemble"] = has("dis_resemble") & ~(isa_f | isa_f_rev)
    # _collapse_mutual: drop (a,b) when (b,a) is also present and a > b
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
