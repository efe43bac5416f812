"""End-to-end KG construction pipeline (the flagship entry point).

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      → ingest (dedup + stable order)                 [window fns]
      → resolve_anchors (rule dispatch, carry-forward)[broadcast joins + window]
      → extract_mentions (AC / probe / dose kernels)  [one mapInPandas]
      → assemble_triples (weights, caps, conflicts)   [native SQL aggs]
      → materialize nodes / edges / metrics           [parquet or Iceberg]

Canonical entities come from connected-components canonicalization of the
gazetteer record tables (pipeline/canonicalize.py). Stages checkpoint
through CheckpointStore when a directory is given; re-running resumes from
the last complete stage with identical results (determinism test).
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import os
import sys
from functools import cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import dimensions as _dimensions
from ..fixtures import locus as _locus_vocab
from ..fixtures.gazetteers import CANON_PREFIX, Gazetteers, build_gazetteers, records_to_rows
from ..functions import merge as _merge
from ..functions.merge import fold_multivalue
from ..kernels import normalize as _normalize
from . import canonicalize as _canonicalize
from . import cc as _cc
from . import locus as _locus
from . import util as _util
from .canonicalize import canonicalize, normalize_alias_map
from .checkpoints import CheckpointStore
from .extract import MENTION_SCHEMA, extract_mentions, ingest, resolve_anchors, rule_prefilter
from .locus import symptom_locus_edges
from .triples import assemble_triples


# default on-disk home for the canonicalized-gazetteer stage tables (repo
# data dir; gitignored). Keyed by a content+code fingerprint, so a changed
# gazetteer or a changed canonicalization algorithm never reads stale data.
_DEFAULT_CANON_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "data", "gazetteer_canon",
)

# every module whose source the canon-cache tables depend on: CC and
# ranking, the fold semantics (functions/merge), the fixed dimension and
# locus vocabularies plus the containment join (nodes_all, symptom_locus),
# and THIS module (the node-folding aggregation lives here)
FINGERPRINT_MODULES = (
    _canonicalize, _cc, _util, _normalize, _merge,
    _dimensions, _locus_vocab, _locus,
    sys.modules[__name__],
)


def _gaz_fingerprint(gaz: Gazetteers) -> str:
    """Content+code key for the canonicalization cache: the gazetteer rows
    plus the source of every FINGERPRINT_MODULES entry, so no edit to the
    producing code can serve stale stage tables."""
    h = hashlib.md5()
    for mod in FINGERPRINT_MODULES:
        h.update(inspect.getsource(mod).encode())
    for etype, records in sorted(gaz.tables().items()):
        h.update(etype.encode())
        for row in records_to_rows(records):
            h.update(repr(sorted(row.items())).encode())
    return h.hexdigest()[:16]


def _tranche_key(files: list[str]) -> str:
    """run_incremental's tranche key: a hash of the tranche's input files."""
    return hashlib.md5("\n".join(files).encode()).hexdigest()[:16]


def _gaz_records(spark: SparkSession, gaz: Gazetteers) -> DataFrame:
    """Every gazetteer record of every entity type as one frame, each row
    tagged with its type and the type's canonical-id prefix."""
    rows = [
        dict(row, prefix=CANON_PREFIX[etype], entity_type=etype)
        for etype, records in gaz.tables().items()
        for row in records_to_rows(records)
    ]
    return _util.local_frame(
        spark, rows, "prefix string, entity_type string, record_id string, names string, "
        "symmap_id string, extdb_id string",
    )


def _union_nodes(spark: SparkSession, folded: DataFrame) -> DataFrame:
    """The full node table: the folded gazetteer nodes plus the dimension
    entities (property/flavour/tropism/toxicity) and locus entities — for
    those the fixed vocabulary IS the entity table (reference
    extract_herb.py:466-585 + merge_tcm_symptom.py:92-98 write them as
    static entity CSVs), constants with no CC needed."""
    dims = _util.local_frame(
        spark,
        _dimensions.dim_node_rows() + _locus_vocab.locus_node_rows(),
        "canonical_id string, entity_type string, names array<string>, "
        "symmap_id string, extdb_id string, source_records array<string>",
    )
    return folded.unionByName(dims).select(
        "canonical_id",
        "entity_type",
        "names",
        F.nullif("symmap_id", F.lit("")).alias("symmap_id"),
        F.nullif("extdb_id", F.lit("")).alias("extdb_id"),
        "source_records",
    )


class KGPipeline:
    """Holds canonicalized gazetteers; `run` builds triples for a corpus.

    Gazetteer canonicalization (one CC + ranking over all nine entity
    types, keys and record ids namespaced by type) is the only expensive
    fixed cost per fresh session. Under `canon_dir` (default: the repo
    data dir) every corpus-independent table persists as a CheckpointStore
    stage keyed by the gazetteer+code fingerprint: `alias` (every type's
    alias map, by prefix), `nodes_all` (the full node table, dimension and
    locus entities included) and `symptom_locus` (the symptom→locus
    edges). A warm session reads the three and collects the alias maps.

    `run` checkpoints its four stages unpartitioned: every reader of
    `s1_mentions` and `s2_triples` (the triple assembly, `_metrics`, the
    export) scans every kind and predicate, so a `kind=`/`pred=` layout
    would only cost one file per key on the write and one task per file
    on each resume read.
    """

    _instances = 0

    def __init__(
        self,
        spark: SparkSession,
        gaz: Gazetteers | None = None,
        canon_dir: str = _DEFAULT_CANON_DIR,
    ) -> None:
        self.spark = spark
        KGPipeline._instances += 1
        self._cache_key = f"pipeline{KGPipeline._instances}"
        gaz = gaz or build_gazetteers()
        store = CheckpointStore(os.path.join(canon_dir, _gaz_fingerprint(gaz)))
        records = _gaz_records(spark, gaz)
        # the two stages below share one canonicalization, run at most once
        canon = cache(lambda: canonicalize(records, F.col("prefix")))

        def _nodes_all() -> DataFrame:
            # fold merged records into one canonical row (canonical ids
            # are unique across types) with the reference's merge_two_value
            # semantics (set-union of `;`-tokens per column —
            # merge_utility.py:120-156) via the A1/A2 aggregation builders
            folded = (
                records.join(canon()[0], ["prefix", "record_id"])
                .groupBy("canonical_id", "entity_type")
                .agg(
                    fold_multivalue("names"),
                    fold_multivalue("symmap_id"),
                    fold_multivalue("extdb_id"),
                    F.array_sort(F.collect_set("record_id")).alias("source_records"),
                )
                .withColumn("names", F.split("names", ";"))
            )
            return _union_nodes(spark, folded)

        alias = store.run_stage(spark, "alias", lambda: canon()[1]).collect()
        self.maps: dict[str, dict[str, str]] = {
            etype: normalize_alias_map(
                [(r["alias"], r["canonical_id"]) for r in alias if r["prefix"] == prefix]
            )
            for etype, prefix in CANON_PREFIX.items()
        }
        # both broadcast joins of resolve_anchors scan it on every run
        self.formula_alias = _util.local_frame(
            spark, list(self.maps["formula"].items()), "alias string, canonical_id string"
        )
        self._nodes = store.run_stage(spark, "nodes_all", _nodes_all)
        self._symptom_locus = store.run_stage(
            spark, "symptom_locus", lambda: symptom_locus_edges(self._nodes)
        )

    # ------------------------------------------------------------------
    def nodes_table(self) -> DataFrame:
        return self._nodes

    def symptom_locus(self) -> DataFrame:
        """Symptom→locus edges by entity-name containment (reference
        merge_tcm_symptom.py:90-131) — corpus-independent, derived from the
        canonicalized symptom entities and the fixed locus vocabulary."""
        return self._symptom_locus

    def mentions(self, transcripts: DataFrame) -> DataFrame:
        turns = ingest(transcripts)
        resolved = resolve_anchors(turns, self.formula_alias)
        pre = rule_prefilter(resolved)
        return extract_mentions(self.spark, pre, self.maps, cache_key=self._cache_key)

    def triples(self, transcripts: DataFrame) -> DataFrame:
        # No checkpoint at the mention level (r6): assemble_triples consumes
        # the mention stream exactly ONCE (reduce_mentions' single
        # combinable groupBy) and localCheckpoints the REDUCED O(distinct
        # pairs) frame — that checkpoint already truncates the lineage the
        # ~30 branch references would otherwise re-analyze, so a second
        # materialization of the full mention-partial stream here only
        # added a block-manager write+read of ~700k rows and one extra
        # action (measured ~0.5s/leg at sf0.1, interleaved mins). The
        # checkpointed path (run()) still materializes mentions to parquet
        # because THERE the stage is a resume point — unpartitioned, since
        # every reader scans all kinds (see run()).
        return assemble_triples(self.mentions(transcripts))

    def export_reference_layout(
        self,
        triples: DataFrame,
        out_dir: str,
        fmt: str = "csv",
    ) -> dict[str, str]:
        """Write the reference's output directory (entity/<type> +
        relation/<name>, reference file stems and Relation_type labels)
        from this pipeline's node table, the given triple frame, and the
        derived symptom→locus edges. See pipeline/export.py."""
        from .export import export_reference_layout

        return export_reference_layout(
            self.nodes_table(),
            triples,
            out_dir,
            symptom_locus=self.symptom_locus(),
            fmt=fmt,
        )

    # ------------------------------------------------------------------
    def run(
        self,
        transcripts: DataFrame,
        checkpoint_dir: str | None = None,
    ) -> dict[str, DataFrame]:
        """Full run with optional per-stage checkpoint/resume."""
        if checkpoint_dir is None:
            triples = self.triples(transcripts)
            return {"triples": triples, "nodes": self.nodes_table()}

        store = CheckpointStore(checkpoint_dir)
        spark = self.spark
        # No stage is partitioned: reduce_mentions and _metrics read every
        # kind in one scan, and export_reference_layout and _metrics read
        # every predicate. A `pred=` layout would cost s2 a serial write of
        # one file per predicate (47) and a 47-task scan on every resume.
        # Stages written partitioned by kind or pred still resume (partition
        # discovery restores the column).
        mentions = store.run_stage(
            spark, "s1_mentions",
            lambda: self.mentions(transcripts),
            # schema-evolution guard: a pre-amt_min/amt_max checkpoint must
            # recompute, not resume (metrics reference the new columns)
            expect_cols=["amt_min", "amt_max"],
        )
        triples = store.run_stage(spark, "s2_triples", lambda: assemble_triples(mentions))
        nodes = store.run_stage(spark, "s3_nodes", self.nodes_table)
        metrics = store.run_stage(spark, "s4_metrics", lambda: self._metrics(mentions, triples))
        return {"mentions": mentions, "triples": triples, "nodes": nodes, "metrics": metrics}

    def run_incremental(
        self, landing_dir: str, checkpoint_dir: str
    ) -> dict[str, DataFrame | int]:
        """Incremental BATCH maintenance: process only input files not yet
        in the checkpoint's tranche manifest, land their mention partials as
        a new tranche, and assemble triples over ALL tranches (mention
        partials are combinable by construction — extract.py's map-side
        partial aggregates — so triples over the union of tranches equal a
        full-batch run over all files seen so far).

        This is the file-manifest equivalent of an Iceberg incremental read
        (SURVEY §2.8): the CheckpointStore manifest under
        `<checkpoint_dir>/mention_tranches` is the commit log. Each tranche
        is its stage `tranche=<key>` (input files in the entry's `files`),
        published by rename, so a crashed run leaves nothing visible; all
        tranches read back as one scan filtered to the manifest's keys
        (`CheckpointStore.read_committed`), with `tranche` typed string.
        Idempotent: calling again with no new files recomputes nothing.

        Carry-forward contract (same as streaming's foreachBatch path): a
        conversation must arrive whole within one tranche — files WITHIN a
        tranche may split it freely (the anchor window spans the tranche),
        but a "亦主治…" line cannot see an anchor from an earlier tranche.
        Feeds that split conversations across arrivals use the stateful
        streaming path instead.

        -> {"mentions", "triples", "n_new_files"}; mentions carry a
        `tranche` partition column (per-tranche lineage for free).
        """
        spark = self.spark
        store = CheckpointStore(os.path.join(checkpoint_dir, "mention_tranches"))
        # realpath both sides: the same landing dir spelled differently
        # (relative vs absolute, symlinks) must not re-process files
        seen = {
            os.path.realpath(f)
            for e in store.partitions("tranche").values()
            for f in e["files"]
        }
        files = sorted(
            os.path.realpath(f)
            for f in glob.glob(os.path.join(landing_dir, "*.parquet"))
        )
        new = [f for f in files if f not in seen]
        if new:
            store.write(
                self.mentions(spark.read.parquet(*new)),
                f"tranche={_tranche_key(new)}",
                meta={"files": new},
            )
        if store.partitions("tranche"):
            mentions = store.read_committed(spark, "tranche")
        else:  # nothing landed yet
            mentions = _util.local_frame(spark, [], MENTION_SCHEMA + ", tranche string")
        return {
            "mentions": mentions,
            "triples": assemble_triples(mentions),
            "n_new_files": len(new),
        }

    def materialize_graph(
        self,
        triples: DataFrame,
        edges_table: str = "tcmkg_edges",
        nodes_table: str = "tcmkg_nodes",
        buckets: int = 16,
        edges_obj_table: str | None = "tcmkg_edges_obj",
    ) -> dict[str, str]:
        """Graph materialization for downstream traversal at scale: edges
        bucketed+sorted by subj, nodes by canonical_id, SAME bucket count —
        so edge⨝node (subj = canonical_id) and any subj-keyed fan-out plan
        as bucket-local sort-merge joins with ZERO data exchanges (tested).
        On an Iceberg catalog the same layout is `bucket(N, subj)` partition
        transforms; parquet bucketed tables are the sandbox stand-in.

        Edges are traversed in BOTH directions (the reference walks reverse
        edges too — merge_utility.py:11-34), so an obj-bucketed copy is
        materialized as well: an obj-keyed hop reads it instead of
        re-shuffling the subj copy, and a 2-hop subj→obj→obj path plans as
        a bucket-local join between the two copies (see two_hop; zero data
        exchanges, tested). Storage doubles; at 100 TB that is the standard
        trade for making the reverse direction shuffle-free.
        """
        spark = self.spark
        import shutil

        # drop the DEFAULT obj copy even when this call skips writing one —
        # otherwise a stale obj table from an earlier materialization would
        # silently pair with the fresh subj table in two_hop()
        tables = [edges_table, nodes_table, edges_obj_table or "tcmkg_edges_obj"]
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)  # in-memory catalog leftovers
        (
            triples.write.bucketBy(buckets, "subj").sortBy("subj")
            .mode("overwrite").saveAsTable(edges_table)
        )
        if edges_obj_table:
            # re-read the just-written subj table: the obj copy re-sorts
            # already-materialized rows instead of executing the full
            # triples plan a second time (and both copies are guaranteed
            # the same snapshot)
            (
                spark.table(edges_table).write.bucketBy(buckets, "obj")
                .sortBy("obj").mode("overwrite").saveAsTable(edges_obj_table)
            )
        (
            self.nodes_table().write.bucketBy(buckets, "canonical_id")
            .sortBy("canonical_id").mode("overwrite").saveAsTable(nodes_table)
        )
        out = {"edges": edges_table, "nodes": nodes_table}
        if edges_obj_table:
            out["edges_obj"] = edges_obj_table
        return out

    def two_hop(
        self,
        edges_table: str = "tcmkg_edges",
        edges_obj_table: str = "tcmkg_edges_obj",
    ) -> DataFrame:
        """2-hop traversal subj→obj→obj over the materialized graph:
        -> (a, via, b, pred1, pred2).

        Hop-1 edges come from the OBJ-bucketed copy and hop-2 edges from
        the SUBJ-bucketed copy, so the e1.obj = e2.subj join key is the
        bucket key on BOTH sides — a bucket-local sort-merge join with zero
        data exchanges (tested with broadcast disabled). This is the
        forward+reverse edge walk the reference performs in
        merge_utility.py:11-34, expressed as a co-located join."""
        e1 = self.spark.table(edges_obj_table).select(
            F.col("subj").alias("a"), F.col("pred").alias("pred1"),
            F.col("obj").alias("via"),
        )
        e2 = self.spark.table(edges_table).select(
            F.col("subj").alias("via"), F.col("pred").alias("pred2"),
            F.col("obj").alias("b"),
        )
        return e1.join(e2, "via").select("a", "via", "b", "pred1", "pred2")

    def k_hop(
        self,
        k: int,
        preds: list[list[str] | None] | None = None,
        edges_table: str = "tcmkg_edges",
        edges_obj_table: str = "tcmkg_edges_obj",
    ) -> DataFrame:
        """k-hop traversal over the materialized graph: -> (n0, pred1, n1,
        pred2, n2, …, predk, nk), distinct paths. `preds[i]` optionally
        restricts hop i+1 to a predicate list (None = all).

        Scale shape (the frontier pattern): hop 1 joins the OBJ-bucketed
        copy against the SUBJ-bucketed copy — bucket key on BOTH sides,
        zero exchanges (the two_hop plan). Each FURTHER hop joins the
        accumulated path frame against the subj-bucketed table again: the
        TABLE side stays bucket-local on its bucket key every time (never
        re-shuffled, the part that is 100 TB), and only the path frame —
        whose size is the query's answer, not the corpus — re-shuffles on
        its current end column. k=2 is exactly two_hop."""
        if k < 2:
            raise ValueError("k_hop needs k >= 2; use the edge table for k=1")

        def _hop(i: int, table: str, src: str) -> DataFrame:
            e = self.spark.table(table)
            if preds is not None and preds[i] is not None:
                e = e.filter(F.col("pred").isin(*preds[i]))
            return e.select(
                F.col("subj").alias(src),
                F.col("pred").alias(f"pred{i + 1}"),
                F.col("obj").alias(f"n{i + 1}"),
            )

        paths = _hop(0, edges_obj_table, "n0")
        for i in range(1, k):
            paths = paths.join(_hop(i, edges_table, f"n{i}"), f"n{i}")
        cols = ["n0"]
        for i in range(1, k + 1):
            cols += [f"pred{i}", f"n{i}"]
        # no distinct needed: the edge tables are distinct triples and the
        # output tuple contains every join key and predicate, so each
        # combination occurs exactly once — adding one would cost a full
        # extra shuffle of the result
        return paths.select(*cols)

    def _metrics(self, mentions: DataFrame, triples: DataFrame) -> DataFrame:
        """Per-partition lineage + triple-count metrics (north-rule item)."""
        m = (
            mentions.withColumn("part", F.spark_partition_id())
            .groupBy("part")
            .agg(F.sum("n").alias("n_mentions"))
            .select(
                F.lit("mentions_per_partition").alias("metric"),
                F.col("part").cast("string").alias("key"),
                F.col("n_mentions").cast("double").alias("value"),
            )
        )
        t = triples.groupBy("pred").count().select(
            F.lit("triples_per_pred").alias("metric"),
            F.col("pred").alias("key"),
            F.col("count").cast("double").alias("value"),
        )
        # A2 quality metric (SURVEY §2.4): per (formula, herb), all observed
        # dose amounts must agree within rel_tol=0.2 (merge_utility.py:151's
        # assert, emitted as data). Exact over the kernel's partial
        # aggregates because min/max combine losslessly.
        from ..functions.merge import agreement_from_bounds

        viol = (
            mentions.filter(F.col("kind") == "contains")
            .groupBy("subj", "obj")
            .agg(F.min("amt_min").alias("mn"), F.max("amt_max").alias("mx"))
            .filter(
                F.col("mn").isNotNull()
                & ~agreement_from_bounds(F.col("mn"), F.col("mx"))
            )
            .agg(F.count("*").alias("n"))
            .select(
                F.lit("numeric_tolerance_violations").alias("metric"),
                F.lit("contains_amt").alias("key"),
                F.col("n").cast("double").alias("value"),
            )
        )
        return m.unionByName(t).unionByName(viol)
