"""Ingest + mention extraction.

Spark-first layering (BASELINE.json north_star):

  ingest          dedup duplicate (conv_id, turn_idx) rows and establish
                  stable turn order — window functions, all JVM-side.
  resolve_anchors rule dispatch + formula carry-forward: prefix parsing with
                  native string expressions, TWO broadcast joins against the
                  formula alias map, and a running `last(..., ignorenulls)`
                  window for the carried formula. No Python.
  extract_mentions the only Python hot path: one `mapInPandas` pass over the
                  (JVM-prefiltered) rule-bearing turns, running the shared
                  Aho-Corasick / token-probe / dose kernels per Arrow batch.
                  Gazetteer maps ride in as broadcast variables; automatons
                  are built once per executor process and cached.

Reference semantics being reproduced: extraction rules documented in
oracle/extractor.py (the normative contract); per-site citations there.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernels.normalize import text_norm_col

# The mention kernel emits MAP-SIDE PARTIAL AGGREGATES, not raw mentions:
# per Arrow batch, pair kinds are deduplicated on (kind, subj, obj, buke)
# with an occurrence count, and 'contains' rows carry partial dose sums +
# null/ml flags per (formula, herb). This is the combine step of the
# aggregation pushed INTO the Python pass — the shuffle then moves
# O(distinct pairs) rows instead of O(mentions), which at 10^12 turns is
# the difference between shuffling terabytes and megabytes.
# Weights are unaffected: sum(amt_i)/total == sum(amt_i/total).
MENTION_SCHEMA = (
    "kind string, subj string, obj string, "
    "n long, amt_sum double, amt_min double, amt_max double, "
    "n_null long, n_ml long, buke boolean"
)


def ingest(transcripts: DataFrame) -> DataFrame:
    """Dedup (conv_id, turn_idx) keeping min (ts, text); add normalized text.

    Explicit conv_id hash partitioning up front (the north-rule layout):
    hash(conv_id) clustering satisfies BOTH downstream window requirements —
    the (conv_id, turn_idx) dedup window here and the per-conversation
    carry-forward window in resolve_anchors — so the whole
    ingest→anchor→prefilter chain runs on ONE shuffle of the fact stream.
    `tnorm` (Q2B+lower) is a codegen'd expression.
    """
    par = transcripts.sparkSession.sparkContext.defaultParallelism
    slim = transcripts.drop("tool")  # dead column: don't pay shuffle bytes for it
    parts = slim.repartition(par, "conv_id")
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("ts", "text")
    return (
        parts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("tnorm", text_norm_col(F.col("text")))
    )


def resolve_anchors(turns: DataFrame, formula_alias: DataFrame) -> DataFrame:
    """Attach `f1_id` (prescription-line formula), `t2_formula` (indication
    formula incl. carry-forward) to every turn.

    formula_alias: (alias, canonical_id) — already text-normalized aliases.
    Broadcast hash joins (the dictionary side is small by construction),
    then one window per conversation for the carried formula. This is the
    stage that makes stable turn ordering load-bearing.
    """
    fa1 = F.broadcast(
        formula_alias.select(
            F.col("alias").alias("_p1"), F.col("canonical_id").alias("f1_id")
        )
    )
    fa2 = F.broadcast(
        formula_alias.select(
            F.col("alias").alias("_p2"), F.col("canonical_id").alias("f2_id")
        )
    )
    t = F.col("tnorm")
    df = turns.withColumn(
        "_p1",
        F.when(t.contains(":"), F.substring_index(t, ":", 1)),
    )
    df = df.join(fa1, "_p1", "left")
    df = df.withColumn(
        "_p2",
        F.when(
            t.contains("主治") & F.col("f1_id").isNull(),
            F.substring_index(t, "主治", 1),
        ),
    )
    df = df.join(fa2, "_p2", "left")

    # carried formula: last resolved anchor among *assistant* turns, in
    # stable (turn_idx) order within the conversation
    anchor = F.when(
        F.col("role") == "assistant", F.coalesce("f1_id", "f2_id")
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    df = df.withColumn("_anchor", anchor).withColumn(
        "last_formula", F.last("_anchor", ignorenulls=True).over(w)
    )
    df = df.withColumn(
        "t2_formula",
        F.when(
            t.contains("主治") & F.col("f1_id").isNull(),
            F.coalesce("f2_id", "last_formula"),
        ),
    )
    return df.drop("_p1", "_p2", "_anchor")


# rule markers the mention kernel dispatches on; the prefilter (batch AND
# streaming — keep them from drifting apart) passes a turn iff it carries
# one of these or resolved a prescription prefix
RULE_MARKERS = (
    "主治", "可治", "可致", "常见", "属于", "其性",
    "含有", "上调", "下调", "作用于", "能治", "能致", "忌用于",
    "归为", "包括",
    # gene-side statement families (sentence-bounded handlers): gene↔gene
    # (extract_target.py:425-493), disease→gene (:520-607), gene→pathway/
    # GO (:653-761), anatomy→gene express (:612-658)
    "调控", "共变", "相互作用", "升高", "降低", "关联",
    "参与", "驱动", "定位于", "活跃于", "介导", "表达",
    # ingredient_bind_gene (extract_target.py:303-308 BINDS_CHbG),
    # ingredient {cause, might-cause} side-effect (extract_ingredient.py:
    # 684-735), anatomy up/down-regulate gene (extract_target.py:612-658
    # UPREGULATES_AuG / DOWNREGULATES_AdG analogues)
    "绑定", "必致", "或致", "富集", "缺失",
    # resemble families (disease extract_disease.py:303-317, ingredient
    # extract_ingredient.py:354-372) and ingredient interact
    # (extract_ingredient.py:320-338,375-391). 相类 rather than 类似:
    # 类似 appears in the inert filler prose, and a filler marker would
    # defeat the rule prefilter corpus-wide.
    "相类", "协同",
    # final reference-inventory families: herb→symptom/syndrome treats
    # (merge_tcm_symptom.py:206, extract_syndrome.py:50), disease/syndrome
    # present symptom (extract_disease.py:240-267, merge_tcm_symptom.py:
    # 243-261), pathway→disease (extract_disease.py:335-347), and the
    # ingredient→pathway/GO quad (extract_ingredient.py:550-676) whose
    # BP/CC/MF predicates are each a 3-kind union (ASSOCIATES ∪ INCREASES
    # ∪ DECREASES relabelled to one type)
    "善治", "善解", "呈现", "引动", "增进", "削减",
    # tcm_symptom ↔ mm_symptom mapping, both statement directions
    # (merge_tcm_symptom.py:213-239)
    "对应", "溯源",
)


def rule_predicate(tnorm_col):
    """Column predicate: turn text carries at least one rule marker."""
    out = F.lit(False)
    for mk in RULE_MARKERS:
        out = out | tnorm_col.contains(mk)
    return out


def rule_prefilter(resolved: DataFrame) -> DataFrame:
    """JVM-side predicate: only rule-bearing assistant turns reach Python.

    At 10^12-turn scale most turns carry no extractable pattern; this filter
    (pushed into the scan where possible) keeps the Arrow channel narrow.
    """
    t = F.col("tnorm")
    has_rule = F.col("f1_id").isNotNull() | rule_predicate(t)
    out = resolved.filter((F.col("role") == "assistant") & has_rule).select(
        "tnorm", "f1_id", "t2_formula"
    )
    # Re-spread before the Arrow kernel: AQE's post-shuffle coalescing sizes
    # partitions for ~64MB of JVM bytes, which leaves the (CPU-heavy) Python
    # stage running on a handful of tasks. Round-robin repartition keys the
    # kernel's parallelism to the cluster, not to the byte size. (Spark
    # sorts before round-robin redistribution, so this stays deterministic.)
    #
    # cores*2. The kernel streams bounded Arrow batches (per-batch state
    # resets; maxRecordsPerBatch caps memory), so per-task CPU is linear in
    # rows and the multiplier trades scheduling overhead against wave
    # balance only. Measured (BENCH/BASELINE.md "Data-scale stress" + an
    # interleaved ABBA run): per-turn cost at 4x data is ~1.01x at a fixed
    # multiplier (round 2's 1.45x was host noise), and cores*8 is ~1.25x
    # SLOWER than cores*2 on quiet windows (task/python-worker dispatch
    # overhead) — the constant stays.
    par = resolved.sparkSession.sparkContext.defaultParallelism
    return out.repartition(par * 2)


def extract_mentions(spark, prefiltered: DataFrame, maps: dict[str, dict[str, str]],
                     cache_key: str = "default") -> DataFrame:
    """mapInPandas mention kernel. `maps`: entity_type -> {norm alias: canon}.

    Emits per-batch PARTIAL AGGREGATES (see MENTION_SCHEMA note above):
      contains   subj=formula  obj=herb  n/amt_sum/amt_min/amt_max/n_null/
                 n_ml from the dose grammar (combine state per pair; min/max
                 feed the A2 rel-tol agreement metric — both are map-side
                 combinable, so the check stays exact under partials)
      p_symptom  subj=formula  obj=symptom  n, buke = indication tail had 不渴
      p_syndrome subj=formula  obj=syndrome  n
      treats / induces  subj=herb  obj=disease  n
      indicates  subj=symptom  obj=syndrome  n
      is_a       subj=disease  obj=disease  n
    """
    sc = spark.sparkContext
    b_maps = sc.broadcast(maps)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.dims import parse_dim_clause
        from ..kernels.dose import parse_dose_string
        from ..kernels.matcher import (
            clause_window,
            extract_herb_dose_pairs,
            get_automaton,
            probe_herb,
        )

        m = b_maps.value
        hmap = m["herb"]
        key = f"gaz:{cache_key}:"
        ac_sym = get_automaton(key + "symptom", m["symptom"].keys())
        ac_syn = get_automaton(key + "syndrome", m["syndrome"].keys())
        ac_dis = get_automaton(key + "disease", m["disease"].keys())
        ac_herb = get_automaton(key + "herb", m["herb"].keys())
        ac_ing = get_automaton(key + "ingredient", m["ingredient"].keys())
        ac_tgt = get_automaton(key + "target", m["target"].keys())
        ac_mms = get_automaton(key + "mm_symptom", m["mm_symptom"].keys())
        from ..fixtures.dimensions import dim_maps

        pc_map = dim_maps()["pharm_class"]  # static constant, no broadcast
        ac_pc = get_automaton("static:pharm_class", pc_map.keys())
        dm = dim_maps()
        _statics = {
            dim: (get_automaton(f"static:{dim}", dm[dim].keys()), dm[dim])
            for dim in (
                "pathway", "bioprocess", "cellcomp", "molfunction", "sideeffect"
            )
        }
        _gaz = {
            "target": (ac_tgt, m["target"]),
            "disease": (ac_dis, m["disease"]),
            "ingredient": (ac_ing, m["ingredient"]),
            "herb": (ac_herb, hmap),
            "symptom": (ac_sym, m["symptom"]),
            "syndrome": (ac_syn, m["syndrome"]),
            "anatomy": (
                get_automaton(key + "anatomy", m["anatomy"].keys()),
                m["anatomy"],
            ),
            "mm_symptom": (ac_mms, m["mm_symptom"]),
        }

        def _side(name):
            return _statics.get(name) or _gaz[name]

        # sentence-bounded statement handlers (kernels/matcher.clause_window):
        # (marker, subj side, obj side, mention kind). Reference shapes:
        # gene↔gene regulate/covary/associate extract_target.py:425-493;
        # disease→gene up/down/associate :520-607; gene→pathway (PARTICIPATES)
        # and gene→GO (INVOLVED/ACTS_UPSTREAM, LOCATED/ACTIVE, ENABLES —
        # multi-marker unions into ONE predicate each) :653-761; anatomy
        # express :612-658. 参与 appears twice (pathway + bioprocess): same
        # verb resolved against two target maps — the reference's
        # extract_specific_relation parameterized-id-map shape.
        sent_handlers = [
            (mk, _side(s), _side(o), kind)
            for mk, s, o, kind in (
                ("调控", "target", "target", "gg_reg"),
                ("共变", "target", "target", "gg_cov"),
                ("相互作用", "target", "target", "gg_assoc"),
                ("升高", "disease", "target", "dg_up"),
                ("降低", "disease", "target", "dg_down"),
                ("关联", "disease", "target", "dg_assoc"),
                ("参与", "target", "pathway", "g_pathway"),
                ("参与", "target", "bioprocess", "g_bioproc"),
                ("驱动", "target", "bioprocess", "g_bioproc"),
                ("定位于", "target", "cellcomp", "g_cellcomp"),
                ("活跃于", "target", "cellcomp", "g_cellcomp"),
                ("介导", "target", "molfunction", "g_molfunc"),
                # anatomy entity family (extract_other_entities.py:276-324
                # TMAT): a CC-canonicalized gazetteer — both endpoints of
                # the anat_* edges are derived entities
                ("表达", "anatomy", "target", "anat_express"),
                # ingredient→side-effect certainty pair (CAUSES_CHcSE /
                # MIGHT_CAUSES_CHmcSE, extract_ingredient.py:684-735 —
                # both sets published, no de-conflict)
                ("必致", "ingredient", "sideeffect", "i_cause_se"),
                ("或致", "ingredient", "sideeffect", "i_might_se"),
                # anatomy up/down-regulate (extract_target.py:612-658)
                ("富集", "anatomy", "target", "anat_up"),
                ("缺失", "anatomy", "target", "anat_down"),
                # resemble: ONE marker resolved against two entity-type
                # pairs (extract_disease.py:303-317 RESEMBLES_DrD,
                # extract_ingredient.py:354-372 RESEMBLES_CrC) — the
                # extract_specific_relation parameterized-id-map shape
                ("相类", "disease", "disease", "dis_resemble"),
                ("相类", "ingredient", "ingredient", "ing_resemble"),
                # ingredient interact (extract_ingredient.py:320-338
                # INTERACTS_CHiCH → ingredient_associate_ingredient)
                ("协同", "ingredient", "ingredient", "ing_interact"),
                # herb→symptom/syndrome treats (merge_tcm_symptom.py:206
                # herb_treat_symptom; extract_syndrome.py:41-53
                # herb_treat_syndrome)
                ("善治", "herb", "symptom", "h_symptom"),
                ("善解", "herb", "syndrome", "h_syndrome"),
                # disease/syndrome present symptom: ONE marker against two
                # subject maps (extract_disease.py:240-267 two-source union
                # → disease_present_symptom; merge_tcm_symptom.py:243-261
                # syndrome_present_symptom). The reference's disease side
                # targets MODERN-medicine symptoms (disease2mm_symptom.csv,
                # TMMS ids) while the syndrome side targets TCM symptoms
                # (syndrome2tcm_symptom.csv) — the object maps differ.
                ("呈现", "disease", "mm_symptom", "dis_present"),
                ("呈现", "syndrome", "symptom", "syn_present"),
                # pathway→disease (extract_disease.py:335-347
                # pathway_lead_to_disease, ASSOCIATES_PWatD)
                ("引动", "pathway", "disease", "pw_disease"),
                # ingredient→pathway/GO quad (extract_ingredient.py:550-676):
                # pathway is a single kind; BP/CC/MF are 3-kind unions —
                # ASSOCIATES ∪ INCREASES ∪ DECREASES relabelled to ONE
                # predicate, reproduced by sinking three markers into one
                # mention kind (the dedup then IS the set union). 增进/削减
                # each resolve against all three GO maps (disjoint vocab);
                # 参与/定位于/介导 are the same verbs the gene-side family
                # uses, resolved here against the ingredient subject map.
                ("参与", "ingredient", "pathway", "i_pathway"),
                ("参与", "ingredient", "bioprocess", "i_bioproc"),
                ("增进", "ingredient", "bioprocess", "i_bioproc"),
                ("削减", "ingredient", "bioprocess", "i_bioproc"),
                ("定位于", "ingredient", "cellcomp", "i_cellcomp"),
                ("增进", "ingredient", "cellcomp", "i_cellcomp"),
                ("削减", "ingredient", "cellcomp", "i_cellcomp"),
                ("介导", "ingredient", "molfunction", "i_molfunc"),
                ("增进", "ingredient", "molfunction", "i_molfunc"),
                ("削减", "ingredient", "molfunction", "i_molfunc"),
                # tcm_symptom ↔ mm_symptom mapping (merge_tcm_symptom.py:
                # 213-239 tcm_symptom_map_mm_symptom): the reference merges
                # TWO statement directions (symmap tcm→mm files + cpmcp
                # mm→tcm files reversed) into one set. 对应 states it
                # tcm-first; the 溯源 direction is handled below (swapped
                # emit) — both sink into the ONE ts_mm kind, so the shared
                # dedup IS the two-direction union.
                ("对应", "symptom", "mm_symptom", "ts_mm"),
            )
        ]

        for pdf in batches:
            # per-batch combine state
            pair_n: dict[tuple, int] = {}            # (kind,subj,obj,buke) -> n
            # (f,h) -> [n, amt_sum, n_null, n_ml, amt_min, amt_max]
            dose: dict[tuple, list] = {}

            for t, f1, t2f in zip(pdf["tnorm"], pdf["f1_id"], pdf["t2_formula"]):
                handled = False
                if f1 is not None and not pd.isna(f1):
                    body = t.partition(":")[2]
                    for tok, d in extract_herb_dose_pairs(body):
                        hid = probe_herb(tok, hmap)
                        if hid is not None:
                            amt, unit = parse_dose_string(d)
                            st = dose.setdefault((f1, hid), [0, 0.0, 0, 0, None, None])
                            st[0] += 1
                            if amt is None:
                                st[2] += 1
                            else:
                                st[1] += amt
                                st[4] = amt if st[4] is None else min(st[4], amt)
                                st[5] = amt if st[5] is None else max(st[5], amt)
                            if unit == "ml":
                                st[3] += 1
                        elif tok:
                            # the reference counts unresolved herb mentions
                            # (extract_prescription_herb_relation.py:88-101
                            # unrecorded_herb Counter); we emit them as
                            # 'unlinked' partials — diagnostics + input for
                            # the optional embedding soft-linker
                            k = ("unlinked", tok, f1, None)
                            pair_n[k] = pair_n.get(k, 0) + 1
                    handled = True
                if not handled and "主治" in t:
                    if t2f is not None and not pd.isna(t2f):
                        tail = t.partition("主治")[2]
                        buke = "不渴" in tail
                        for s in ac_sym.find_set(tail):
                            k = ("p_symptom", t2f, m["symptom"][s], buke)
                            pair_n[k] = pair_n.get(k, 0) + 1
                        for s in ac_syn.find_set(tail):
                            k = ("p_syndrome", t2f, m["syndrome"][s], None)
                            pair_n[k] = pair_n.get(k, 0) + 1
                    handled = True
                if "可治" in t:
                    for h in ac_herb.find_set(t):
                        for d in ac_dis.find_set(t):
                            k = ("treats", hmap[h], m["disease"][d], None)
                            pair_n[k] = pair_n.get(k, 0) + 1
                if "可致" in t:
                    for h in ac_herb.find_set(t):
                        for d in ac_dis.find_set(t):
                            k = ("induces", hmap[h], m["disease"][d], None)
                            pair_n[k] = pair_n.get(k, 0) + 1
                if "含有" in t:
                    # derived-entity edge: herb → ingredient (reference
                    # herb_consistof_ingredient, extract_ingredient.py:276-317
                    # — there via per-source id maps; here both endpoints
                    # resolve through their own alias→canonical broadcast map)
                    left, _, right = t.partition("含有")
                    hs = ac_herb.find_set(left)
                    if hs:
                        for ing in ac_ing.find_set(right):
                            for h in hs:
                                k = ("consistof", hmap[h], m["ingredient"][ing], None)
                                pair_n[k] = pair_n.get(k, 0) + 1
                # ingredient → gene statements (reference extract_target.py:
                # 330-417) and ingredient → disease statements (reference
                # extract_ingredient.py:476-542): mention sets collected
                # here, de-conflicted in triples.py
                for marker, kindname in (
                    ("上调", "up_gene"), ("下调", "down_gene"),
                    ("作用于", "assoc_gene"), ("绑定", "bind_gene"),
                ):
                    if marker in t:
                        left, _, right = t.partition(marker)
                        ings = ac_ing.find_set(left)
                        if ings:
                            for g in ac_tgt.find_set(right):
                                for ing in ings:
                                    k = (kindname, m["ingredient"][ing], m["target"][g], None)
                                    pair_n[k] = pair_n.get(k, 0) + 1
                for marker, kindname in (
                    ("能治", "i_treat"), ("能致", "i_induce"), ("忌用于", "i_contra"),
                ):
                    if marker in t:
                        left, _, right = t.partition(marker)
                        ings = ac_ing.find_set(left)
                        if ings:
                            for d in ac_dis.find_set(right):
                                for ing in ings:
                                    k = (kindname, m["ingredient"][ing], m["disease"][d], None)
                                    pair_n[k] = pair_n.get(k, 0) + 1
                # ingredient → pharmacologic class: the reference merges
                # BOTH relation directions into one edge set
                # (extract_ingredient.py:451-460); 归为 states it
                # ingredient-first, 包括 class-first
                if "归为" in t:
                    left, _, right = t.partition("归为")
                    for ing in ac_ing.find_set(left):
                        for pc in ac_pc.find_set(right):
                            k = ("pclass", m["ingredient"][ing], pc_map[pc], None)
                            pair_n[k] = pair_n.get(k, 0) + 1
                if "包括" in t:
                    left, _, right = t.partition("包括")
                    for pc in ac_pc.find_set(left):
                        for ing in ac_ing.find_set(right):
                            k = ("pclass", m["ingredient"][ing], pc_map[pc], None)
                            pair_n[k] = pair_n.get(k, 0) + 1
                # gene-side statement families: sentence-bounded windows so
                # clauses compose on one turn without cross-talk; subj==obj
                # self-pairs are guarded (same-type scans can catch the
                # subject inside a conflict clause's window)
                for mk, (ac_s, map_s), (ac_o, map_o), kindname in sent_handlers:
                    if mk in t:
                        ls, rs = clause_window(t, mk)
                        subs = ac_s.find_set(ls)
                        if subs:
                            for o in ac_o.find_set(rs):
                                for s in subs:
                                    cs, co = map_s[s], map_o[o]
                                    if cs != co:
                                        k = (kindname, cs, co, None)
                                        pair_n[k] = pair_n.get(k, 0) + 1
                if "溯源" in t:
                    # reversed statement direction of the tcm↔mm mapping
                    # (cpmcp mm→tcm files, merge_tcm_symptom.py:226-233):
                    # subject window holds the MM symptom, object window the
                    # tcm symptom; the pair is emitted (tcm, mm) so both
                    # directions land in the one ts_mm set
                    ls, rs = clause_window(t, "溯源")
                    mms = ac_mms.find_set(ls)
                    if mms:
                        for s in ac_sym.find_set(rs):
                            for mm in mms:
                                k = ("ts_mm", m["symptom"][s],
                                     m["mm_symptom"][mm], None)
                                pair_n[k] = pair_n.get(k, 0) + 1
                if "其性" in t:
                    # dimension clause (herb property/flavour/tropism/
                    # toxicity — reference extract_herb.py:587-651): the
                    # subject is the statement's herb; the clause's own
                    # tokens are dimension vocabulary, never gazetteer
                    # names (contract/kg._assert_dim_fragments_safe)
                    head, _, seg = t.partition("其性")
                    hs = ac_herb.find_set(head)
                    if hs:
                        dim_ids = parse_dim_clause(seg)
                        for h in hs:
                            for kind, did in dim_ids:
                                k = (kind, hmap[h], did, None)
                                pair_n[k] = pair_n.get(k, 0) + 1
                if not handled and "常见" in t:
                    left, _, right = t.partition("常见")
                    syns = ac_syn.find_set(left)
                    if syns:
                        for sm in ac_sym.find_set(right):
                            for sy in syns:
                                k = ("indicates", m["symptom"][sm], m["syndrome"][sy], None)
                                pair_n[k] = pair_n.get(k, 0) + 1
                elif not handled and "属于" in t:
                    left, _, right = t.partition("属于")
                    lefts = ac_dis.find_set(left)
                    if lefts:
                        rights = ac_dis.find_set(right)
                        for a in lefts:
                            for b in rights:
                                ca, cb = m["disease"][a], m["disease"][b]
                                if ca != cb:
                                    k = ("is_a", ca, cb, None)
                                    pair_n[k] = pair_n.get(k, 0) + 1

            kinds, subjs, objs, ns = [], [], [], []
            amts, amnts, amxts, nnulls, nmls, bukes = [], [], [], [], [], []
            for (kind, s, o, buke), n in pair_n.items():
                kinds.append(kind); subjs.append(s); objs.append(o); ns.append(n)
                amts.append(None); amnts.append(None); amxts.append(None)
                nnulls.append(0); nmls.append(0); bukes.append(buke)
            for (f, h), (n, amt_sum, n_null, n_ml, amt_min, amt_max) in dose.items():
                kinds.append("contains"); subjs.append(f); objs.append(h); ns.append(n)
                amts.append(amt_sum); amnts.append(amt_min); amxts.append(amt_max)
                nnulls.append(n_null); nmls.append(n_ml)
                bukes.append(None)

            yield pd.DataFrame(
                {
                    "kind": pd.Series(kinds, dtype="object"),
                    "subj": pd.Series(subjs, dtype="object"),
                    "obj": pd.Series(objs, dtype="object"),
                    "n": pd.Series(ns, dtype="int64"),
                    "amt_sum": pd.Series(amts, dtype="float64"),
                    "amt_min": pd.Series(amnts, dtype="float64"),
                    "amt_max": pd.Series(amxts, dtype="float64"),
                    "n_null": pd.Series(nnulls, dtype="int64"),
                    "n_ml": pd.Series(nmls, dtype="int64"),
                    "buke": pd.Series(bukes, dtype="object"),
                }
            )

    return prefiltered.mapInPandas(kernel, schema=MENTION_SCHEMA)
