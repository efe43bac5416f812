"""Plain-Python oracle: the P/R≥0.95 gate (SURVEY.md §5.2 item 1).

A reference-faithful, eager, single-process implementation of the exact
extraction contract the Spark pipeline must reproduce. It shares the *string
kernels* (Q2B, dose grammar, token probe, Aho-Corasick) with the pipeline —
those encode reference semantics — but implements all *dataflow* (dedup,
ordering, carry-forward, union-find canonicalization, conflict resolution,
weighting) independently with plain dicts/loops, the way the reference does
(cf. processed_code/merge_utility.py:166-231 union-find;
extract_prescription_herb_relation.py:63-93 linking;
process_dose_unit.py:100-210 weighting;
add_more_prescription_symptom_map.py:22-28 substring scan;
merge_tcm_symptom.py:289-294 degree cap; extract_ingredient.py:514-515 and
extract_disease.py:288-294 conflict rules).

THE EXTRACTION CONTRACT (shared, normative for both implementations)
--------------------------------------------------------------------
Ingest:   drop duplicate (conv_id, turn_idx) keeping min (ts, text); order
          turns by turn_idx per conversation; normalize text with
          kernels.normalize.text_norm (Q2B + lowercase). Only role='assistant'
          turns are mined; all turns participate in ordering.
Rules (per ordered assistant turn, normalized text t):
  T1  if ':' in t and prefix:=t[:t.index(':')] resolves in the formula alias
      map: prescription line. Tokenize body per the reference grammar, peel
      doses, two-stage herb probe. Updates carried formula.
  T2  elif '主治' in t: indication line. prefix before first 主治 resolves
      to a formula, else the carried formula (skip if none). Substring-scan
      (AC) symptom and syndrome gazetteers over the indication tail.
      Updates carried formula only when the prefix resolved.
  T3  if '可治' in t: herb×disease co-occurrence over the whole line -> treats.
      if '可致' in t: same -> induces (conflict-kill only, never emitted).
  T4  elif '常见' in t: split at first 常见; syndrome AC on the left,
      symptom AC on the right -> (symptom, symptom_indicates_syndrome, syndrome).
  T5  elif '属于' in t: split; disease AC left -> subj, right -> obj.
  T7  if '含有' in t: split at first 含有; herb AC left, ingredient AC right
      -> herb_consistof_ingredient (reference extract_ingredient.py:276-317,
      both endpoints through their own id map).
  T8  if '上调'/'下调'/'作用于' in t (independent checks): split at the
      marker; ingredient AC left, target AC right -> up/down/associate
      mention sets (reference extract_target.py:330-363).
  T6  if '其性' in t: dimension clause (kernels/dims.py slot parser, shared
      string kernel). Herb AC over the text BEFORE 其性 -> subjects; emits
      herb_has_property / herb_has_flavour / tropism_of_herb /
      toxicity_of_herb edges (reference extract_herb.py:587-651).
Post:
  formula_contains_herb: dose -> grams (clean/filter/convert per reference
      grammar); formulas with any ml-unit or any unparseable linked dose get
      null weights; else weight = dose/formula_total, summed per (subj,obj),
      all-null -> null.
  prescription_treat_symptom: lines whose indication tail contains 不渴
      link no symptom.
  Every other family: `publish`, a pure function from per-kind pair sets
      to triples (degree cap, treats/induces, is_a, the gene and
      ingredient de-conflict rules, mutual-pair collapse).
  All predicates deduplicated on (subj, pred, obj).
Canonical entities: per-gazetteer union-find over records sharing any
      (column, token) key from names/symmap_id/extdb_id; canonical id =
      CANON_PREFIX + zero-padded rank of the component's min record_id.
"""

from __future__ import annotations

from collections import defaultdict

from ..fixtures.dimensions import DIM_PRED_OF_KIND
from ..fixtures.gazetteers import CANON_PREFIX, Gazetteers, GazetteerRecord
from ..kernels.dims import parse_dim_clause
from ..kernels.dose import parse_dose_string
from ..kernels.matcher import AhoCorasick, extract_herb_dose_pairs, probe_herb
from ..kernels.normalize import text_norm

PRED_CONTAINS = "formula_contains_herb"
PRED_TREATS = "herb_treats_disease"
PRED_INDICATES = "symptom_indicates_syndrome"
PRED_P_SYMPTOM = "prescription_treat_symptom"
PRED_P_SYNDROME = "prescription_treat_syndrome"
PRED_IS_A = "disease_is_a_disease"
PRED_CONSISTOF = "herb_consistof_ingredient"
PRED_UP = "ingredient_upregulate_gene"
PRED_DOWN = "ingredient_downregulate_gene"
PRED_ASSOC = "ingredient_associate_gene"
PRED_I_TREAT = "ingredient_treat_disease"
PRED_I_INDUCE = "ingredient_induce_disease"
PRED_I_CONTRA = "ingredient_contraindicate_disease"
PRED_PCLASS = "ingredient_belong_to_pharmacologic_class"
PRED_GG_REG = "gene_regulate_gene"
PRED_GG_COV = "gene_covary_gene"
PRED_GG_ASSOC = "gene_associate_gene"
PRED_DG_UP = "disease_upregulate_gene"
PRED_DG_DOWN = "disease_downregulate_gene"
PRED_DG_ASSOC = "disease_associate_gene"
PRED_G_PATHWAY = "gene_associate_pathway"
PRED_G_BIOPROC = "gene2biological_process"
PRED_G_CELLCOMP = "gene2cell_component"
PRED_G_MOLFUNC = "gene2molecular_function"
PRED_ANAT_EXPRESS = "anatomy_express_gene"
PRED_BIND = "ingredient_bind_gene"
PRED_I_CAUSE_SE = "ingredient_cause_sideeffect"
PRED_I_MIGHT_SE = "ingredient_might_cause_sideeffect"
PRED_ANAT_UP = "anatomy_upregulate_gene"
PRED_ANAT_DOWN = "anatomy_downregulate_gene"
PRED_DIS_RESEMBLE = "disease_resemble_disease"
PRED_ING_RESEMBLE = "ingredient_resemble_ingredient"
PRED_ING_INTERACT = "ingredient_associate_ingredient"
PRED_H_SYMPTOM = "herb_treat_symptom"
PRED_H_SYNDROME = "herb_treat_syndrome"
PRED_DIS_PRESENT = "disease_present_symptom"
PRED_SYN_PRESENT = "syndrome_present_symptom"
PRED_PW_DISEASE = "pathway_lead_to_disease"
PRED_I_PATHWAY = "ingredient_associate_pathway"
PRED_I_BIOPROC = "ingredient_associate_biological_process"
PRED_I_CELLCOMP = "ingredient_associate_cellular_component"
PRED_I_MOLFUNC = "ingredient_associate_molecular_function"
PRED_TS_MM = "tcm_symptom_map_mm_symptom"

DEGREE_CAP = 50


class _UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        root = x
        while self.parent.setdefault(root, root) != root:
            root = self.parent[root]
        while self.parent[x] != root:  # path compression
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # smaller id wins -> deterministic representatives
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


def canonicalize_records(
    records: list[GazetteerRecord], prefix: str
) -> tuple[dict[str, str], dict[str, str]]:
    """Union-find canonicalization of gazetteer records.

    Returns (record_id -> canonical_id, alias name -> canonical_id).
    """
    uf = _UnionFind()
    key_owner: dict[tuple[str, str], str] = {}
    for r in records:
        uf.find(r.record_id)
        keys = [("name", n) for n in r.names]
        if r.symmap_id:
            keys += [("symmap", k.strip()) for k in r.symmap_id.split(";")]
        if r.extdb_id:
            keys += [("extdb", k.strip()) for k in r.extdb_id.split(";")]
        for key in keys:
            if key in key_owner:
                uf.union(key_owner[key], r.record_id)
            else:
                key_owner[key] = r.record_id
    comps: dict[str, list[GazetteerRecord]] = defaultdict(list)
    for r in records:
        comps[uf.find(r.record_id)].append(r)
    rec2canon: dict[str, str] = {}
    alias2canon: dict[str, str] = {}
    for i, rep in enumerate(sorted(comps)):
        canon = f"{prefix}{i:05d}"
        for r in sorted(comps[rep], key=lambda r: r.record_id):
            rec2canon[r.record_id] = canon
            for name in r.names:
                key = text_norm(name)
                # collision rule: min canonical id wins (matches pipeline)
                alias2canon[key] = min(alias2canon.get(key, canon), canon)
    return rec2canon, alias2canon


class OracleExtractor:
    def __init__(self, gaz: Gazetteers) -> None:
        self.maps: dict[str, dict[str, str]] = {}
        for etype, records in gaz.tables().items():
            _, alias2canon = canonicalize_records(records, CANON_PREFIX[etype])
            self.maps[etype] = alias2canon
        self.ac = {
            etype: AhoCorasick(self.maps[etype].keys())
            for etype in ("symptom", "syndrome", "disease", "herb",
                          "ingredient", "target", "anatomy", "mm_symptom")
        }

    # ------------------------------------------------------------------
    def extract(self, rows: list[dict]) -> set[tuple]:
        """rows: raw transcript dicts -> set of (subj, pred, obj, weight)."""
        # ingest: dedup (conv, turn) keep min (ts, text); order per conv
        best: dict[tuple[str, int], dict] = {}
        for r in rows:
            key = (r["conv_id"], r["turn_idx"])
            cur = best.get(key)
            if cur is None or (r["ts"], r["text"]) < (cur["ts"], cur["text"]):
                best[key] = r
        convs: dict[str, list[dict]] = defaultdict(list)
        for (conv, _), r in sorted(best.items()):
            convs[conv].append(r)

        contains_rows: list[tuple[str, str, str | None]] = []  # formula, herb, dose
        # kind -> deduped (subj, obj) pairs, keyed by the pipeline's kinds
        pairs: dict[str, set[tuple[str, str]]] = defaultdict(set)

        from ..fixtures.dimensions import dim_maps
        from ..kernels.matcher import clause_window

        dm = dim_maps()
        pc_map = dm["pharm_class"]
        ac_pc = AhoCorasick(pc_map.keys())
        side = {
            name: (AhoCorasick(dm[name].keys()), dm[name])
            for name in (
                "pathway", "bioprocess", "cellcomp", "molfunction", "sideeffect"
            )
        }
        side["anatomy"] = (self.ac["anatomy"], self.maps["anatomy"])
        side["mm_symptom"] = (self.ac["mm_symptom"], self.maps["mm_symptom"])
        side["target"] = (self.ac["target"], self.maps["target"])
        side["disease"] = (self.ac["disease"], self.maps["disease"])
        side["ingredient"] = (self.ac["ingredient"], self.maps["ingredient"])
        side["herb"] = (self.ac["herb"], self.maps["herb"])
        side["symptom"] = (self.ac["symptom"], self.maps["symptom"])
        side["syndrome"] = (self.ac["syndrome"], self.maps["syndrome"])
        # sentence-bounded statement handlers — same table as the pipeline
        # kernel (reference shapes: extract_target.py:425-493 gene↔gene,
        # :520-607 disease→gene, :653-761 gene→pathway/GO unions, :612-658
        # anatomy express)
        sent_handlers = [
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
            # anatomy: CC-canonicalized gazetteer entities
            # (extract_other_entities.py:276-324 TMAT)
            ("表达", "anatomy", "target", "anat_express"),
            ("必致", "ingredient", "sideeffect", "i_cause_se"),
            ("或致", "ingredient", "sideeffect", "i_might_se"),
            ("富集", "anatomy", "target", "anat_up"),
            ("缺失", "anatomy", "target", "anat_down"),
            ("相类", "disease", "disease", "dis_resemble"),
            ("相类", "ingredient", "ingredient", "ing_resemble"),
            ("协同", "ingredient", "ingredient", "ing_interact"),
            # herb→symptom/syndrome treats (merge_tcm_symptom.py:206,
            # extract_syndrome.py:41-53)
            ("善治", "herb", "symptom", "h_symptom"),
            ("善解", "herb", "syndrome", "h_syndrome"),
            # disease/syndrome present symptom (extract_disease.py:240-267,
            # merge_tcm_symptom.py:243-261); the disease side targets
            # mm_symptom entities (the reference's disease2mm_symptom.csv)
            ("呈现", "disease", "mm_symptom", "dis_present"),
            ("呈现", "syndrome", "symptom", "syn_present"),
            # pathway→disease (extract_disease.py:335-347)
            ("引动", "pathway", "disease", "pw_disease"),
            # ingredient→pathway/GO quad (extract_ingredient.py:550-676);
            # BP/CC/MF are 3-marker unions into one kind each
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
            # tcm-first direction of the tcm↔mm symptom mapping
            # (merge_tcm_symptom.py:213-224); the mm-first 溯源 direction
            # is handled below with a swapped emit
            ("对应", "symptom", "mm_symptom", "ts_mm"),
        ]

        fmap = self.maps["formula"]
        hmap = self.maps["herb"]
        for conv, turns in convs.items():
            last_formula: str | None = None
            for r in turns:
                if r["role"] != "assistant":
                    continue
                t = text_norm(r["text"])
                handled = False
                if ":" in t:
                    prefix, _, body = t.partition(":")
                    fid = fmap.get(prefix)
                    if fid is not None:
                        for tok, dose in extract_herb_dose_pairs(body):
                            hid = probe_herb(tok, hmap)
                            if hid is not None:
                                contains_rows.append((fid, hid, dose))
                        last_formula = fid
                        handled = True
                if not handled and "主治" in t:
                    prefix, _, tail = t.partition("主治")
                    fid = fmap.get(prefix)
                    if fid is not None:
                        last_formula = fid
                    else:
                        fid = last_formula
                    if fid is not None:
                        # a 不渴 line links no symptom
                        # (add_more_prescription_symptom_map.py:67-80)
                        if "不渴" not in tail:
                            for s in self.ac["symptom"].find_set(tail):
                                pairs["p_symptom"].add((fid, self.maps["symptom"][s]))
                        for s in self.ac["syndrome"].find_set(tail):
                            pairs["p_syndrome"].add((fid, self.maps["syndrome"][s]))
                    handled = True
                if "可治" in t:
                    hs = self.ac["herb"].find_set(t)
                    ds = self.ac["disease"].find_set(t)
                    for h in hs:
                        for d in ds:
                            pairs["treats"].add((hmap[h], self.maps["disease"][d]))
                if "可致" in t:
                    hs = self.ac["herb"].find_set(t)
                    ds = self.ac["disease"].find_set(t)
                    for h in hs:
                        for d in ds:
                            pairs["induces"].add((hmap[h], self.maps["disease"][d]))
                if "含有" in t:
                    left, _, right = t.partition("含有")
                    for h in self.ac["herb"].find_set(left):
                        for ing in self.ac["ingredient"].find_set(right):
                            pairs["consistof"].add((hmap[h], self.maps["ingredient"][ing]))
                for marker, kind in (
                    ("上调", "up_gene"), ("下调", "down_gene"),
                    ("作用于", "assoc_gene"), ("绑定", "bind_gene"),
                ):
                    if marker in t:
                        left, _, right = t.partition(marker)
                        for ing in self.ac["ingredient"].find_set(left):
                            for g in self.ac["target"].find_set(right):
                                pairs[kind].add(
                                    (self.maps["ingredient"][ing], self.maps["target"][g])
                                )
                for marker, kind in (
                    ("能治", "i_treat"), ("能致", "i_induce"), ("忌用于", "i_contra"),
                ):
                    if marker in t:
                        left, _, right = t.partition(marker)
                        for ing in self.ac["ingredient"].find_set(left):
                            for d in self.ac["disease"].find_set(right):
                                pairs[kind].add(
                                    (self.maps["ingredient"][ing], self.maps["disease"][d])
                                )
                if "归为" in t:
                    left, _, right = t.partition("归为")
                    for ing in self.ac["ingredient"].find_set(left):
                        for pc in ac_pc.find_set(right):
                            pairs["pclass"].add((self.maps["ingredient"][ing], pc_map[pc]))
                if "包括" in t:
                    left, _, right = t.partition("包括")
                    for pc in ac_pc.find_set(left):
                        for ing in self.ac["ingredient"].find_set(right):
                            pairs["pclass"].add((self.maps["ingredient"][ing], pc_map[pc]))
                for mk, sname, oname, kind in sent_handlers:
                    if mk in t:
                        ac_s, map_s = side[sname]
                        ac_o, map_o = side[oname]
                        ls, rs = clause_window(t, mk)
                        for s in ac_s.find_set(ls):
                            for o in ac_o.find_set(rs):
                                cs, co = map_s[s], map_o[o]
                                if cs != co:
                                    pairs[kind].add((cs, co))
                if "溯源" in t:
                    # mm-first direction, swapped emit -> (tcm, mm)
                    ls, rs = clause_window(t, "溯源")
                    for mm in self.ac["mm_symptom"].find_set(ls):
                        for s in self.ac["symptom"].find_set(rs):
                            pairs["ts_mm"].add(
                                (self.maps["symptom"][s],
                                 self.maps["mm_symptom"][mm])
                            )
                if "其性" in t:
                    head, _, seg = t.partition("其性")
                    for h in self.ac["herb"].find_set(head):
                        for kind, did in parse_dim_clause(seg):
                            pairs[kind].add((hmap[h], did))
                if not handled and "常见" in t:
                    left, _, right = t.partition("常见")
                    syns = self.ac["syndrome"].find_set(left)
                    syms = self.ac["symptom"].find_set(right)
                    for sy in syns:
                        for sm in syms:
                            pairs["indicates"].add(
                                (self.maps["symptom"][sm], self.maps["syndrome"][sy])
                            )
                elif not handled and "属于" in t:
                    left, _, right = t.partition("属于")
                    for a in self.ac["disease"].find_set(left):
                        for b in self.ac["disease"].find_set(right):
                            ca, cb = self.maps["disease"][a], self.maps["disease"][b]
                            if ca != cb:
                                pairs["is_a"].add((ca, cb))

        triples: set[tuple] = set()

        # ---- formula_contains_herb weights (reference dose pipeline) ----
        amounts: list[tuple[str, str, float | None, str | None]] = []
        for fid, hid, dose in contains_rows:
            amt, unit = parse_dose_string(dose)
            amounts.append((fid, hid, amt, unit))
        totals: dict[str, float] = defaultdict(float)
        dropped: set[str] = set()
        for fid, _, amt, unit in amounts:
            if unit == "ml" or amt is None:
                dropped.add(fid)
            if amt is not None:
                totals[fid] += amt
        wsum: dict[tuple[str, str], float] = defaultdict(float)
        has_w: set[tuple[str, str]] = set()
        linked: set[tuple[str, str]] = set()
        for fid, hid, amt, _ in amounts:
            linked.add((fid, hid))
            if fid not in dropped and amt is not None and totals[fid] > 0:
                wsum[(fid, hid)] += amt / totals[fid]
                has_w.add((fid, hid))
        for fid, hid in linked:
            w = wsum[(fid, hid)] if (fid, hid) in has_w else None
            triples.add((fid, PRED_CONTAINS, hid, w))

        return triples | publish(pairs)


# kinds whose pair set publishes as-is: no weighting, cap or conflict rule.
# This includes the pass-through halves of the algebra families: bind
# (extract_target.py:303-308), gene↔gene regulate/covary and disease→gene
# up/down (only their associate siblings are filtered)
_PLAIN_PRED = {
    "p_syndrome": PRED_P_SYNDROME,
    "indicates": PRED_INDICATES,
    **DIM_PRED_OF_KIND,
    "consistof": PRED_CONSISTOF,
    "pclass": PRED_PCLASS,
    "bind_gene": PRED_BIND,
    "gg_reg": PRED_GG_REG,
    "gg_cov": PRED_GG_COV,
    "dg_up": PRED_DG_UP,
    "dg_down": PRED_DG_DOWN,
    "g_pathway": PRED_G_PATHWAY,
    "g_bioproc": PRED_G_BIOPROC,
    "g_cellcomp": PRED_G_CELLCOMP,
    "g_molfunc": PRED_G_MOLFUNC,
    "anat_express": PRED_ANAT_EXPRESS,
    "i_cause_se": PRED_I_CAUSE_SE,
    "i_might_se": PRED_I_MIGHT_SE,
    "anat_up": PRED_ANAT_UP,
    "anat_down": PRED_ANAT_DOWN,
    "h_symptom": PRED_H_SYMPTOM,
    "h_syndrome": PRED_H_SYNDROME,
    "dis_present": PRED_DIS_PRESENT,
    "syn_present": PRED_SYN_PRESENT,
    "pw_disease": PRED_PW_DISEASE,
    "i_pathway": PRED_I_PATHWAY,
    "i_bioproc": PRED_I_BIOPROC,
    "i_cellcomp": PRED_I_CELLCOMP,
    "i_molfunc": PRED_I_MOLFUNC,
    "ts_mm": PRED_TS_MM,
}


def _one_way(pairs: set[tuple[str, str]]) -> set[tuple[str, str]]:
    """Mutual pairs collapse to the subj<obj direction (deterministic
    analogue of the reference's set-iteration-order remove_rel loop)."""
    return {(a, b) for a, b in pairs if not ((b, a) in pairs and a > b)}


def publish(pairs_by_kind: dict[str, set[tuple[str, str]]]) -> set[tuple]:
    """The post-extraction set algebra of every family but
    formula_contains_herb (whose weighting needs the raw doses):
    kind -> deduped (subj, obj) pairs in, (subj, pred, obj, None) out.

    Kinds are the pipeline's mention kinds; `p_symptom` is the pair set
    after the 不渴 drop, and the degree cap is applied here. The tests
    hold the pipeline's grouped assembly to this function."""

    def p(kind: str) -> set[tuple[str, str]]:
        return pairs_by_kind.get(kind, set())

    out = {pred: p(kind) for kind, pred in _PLAIN_PRED.items()}

    # ---- prescription_treat_symptom: degree cap (merge_tcm_symptom.py:289-294)
    deg: dict[str, set[str]] = defaultdict(set)
    for f, s in p("p_symptom"):
        deg[f].add(s)
    out[PRED_P_SYMPTOM] = {
        (f, s) for f, s in p("p_symptom") if len(deg[f]) < DEGREE_CAP
    }

    # ---- herb_treats_disease: treats minus (treats ∩ induces)
    # (extract_ingredient.py:514-515 semantics)
    out[PRED_TREATS] = p("treats") - p("induces")

    # ---- disease_is_a_disease: bidirectional pairs dropped from both sides
    # (extract_disease.py:288-294)
    is_a = p("is_a")
    isa_final = {(a, b) for a, b in is_a if (b, a) not in is_a}
    out[PRED_IS_A] = isa_final

    # ---- disease resemble (extract_disease.py:311-317): killed by the
    # PUBLISHED is_a set in either direction
    isa_kill = isa_final | {(b, a) for a, b in isa_final}
    out[PRED_DIS_RESEMBLE] = p("dis_resemble") - isa_kill

    # ---- ingredient resemble / interact: mutual pairs collapse
    # (extract_ingredient.py:354-361, 375-383)
    out[PRED_ING_RESEMBLE] = _one_way(p("ing_resemble"))
    out[PRED_ING_INTERACT] = _one_way(p("ing_interact"))

    # ---- ingredient→gene de-conflict (extract_target.py:365-372,
    # 404-411): up∩down moves to associate; final associate also
    # subtracts bind; bind publishes raw
    conflict = p("up_gene") & p("down_gene")
    out[PRED_UP] = p("up_gene") - conflict
    out[PRED_DOWN] = p("down_gene") - conflict
    out[PRED_ASSOC] = (
        (p("assoc_gene") | conflict) - out[PRED_UP] - out[PRED_DOWN] - p("bind_gene")
    )

    # ---- ingredient→disease three-way de-conflict
    # (extract_ingredient.py:514-521): conflict = treats ∩ (induces ∪
    # contraindicates), dropped from ALL sets; an induces∩contra pair
    # without a treats claim survives in both
    id_conflict = p("i_treat") & (p("i_induce") | p("i_contra"))
    out[PRED_I_TREAT] = p("i_treat") - id_conflict
    out[PRED_I_INDUCE] = p("i_induce") - id_conflict
    out[PRED_I_CONTRA] = p("i_contra") - id_conflict

    # ---- gene↔gene de-conflict (extract_target.py:453-486): associate
    # loses pairs present in EITHER direction in covary/regulate, then
    # mutual associate pairs collapse
    directional = p("gg_reg") | p("gg_cov")
    kill = directional | {(b, a) for a, b in directional}
    out[PRED_GG_ASSOC] = _one_way(p("gg_assoc") - kill)

    # ---- disease→gene (extract_target.py:597-601): assoc − up − down
    out[PRED_DG_ASSOC] = p("dg_assoc") - p("dg_up") - p("dg_down")

    return {(s, pred, o, None) for pred, ps in out.items() for s, o in ps}
