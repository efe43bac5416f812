"""The workloads. Each one is driven only through the program's
public API and follows one protocol:

  prepare()         untimed: generate the seed's inputs, compute the oracle
  setup()           timed, repeated: the user-visible set-up before an op
  op(i, warmup)     one op and its follow-up -> Attempt. A timed op is
                    compared with the oracle after the timers stop; a
                    warm-up op is not checked
  traced(tracer)    one staged op under spans (traced runs only)

`i` indexes one fixed op sequence: the same seed gives the same inputs at
every index, warm-up ops included.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import functions as F

from tcmkg.contract.generic import LSH_MAX_BUCKET
from tcmkg.fixtures.gazetteers import CANON_PREFIX, records_to_rows
from tcmkg.ops.dedup import lsh_candidate_pairs, minhash_signatures, near_dedup, pair_jaccard
from tcmkg.pipeline import cc
from tcmkg.pipeline.canonicalize import canonicalize, gazetteer_incidence, normalize_alias_map
from tcmkg.pipeline.checkpoints import CheckpointStore
from tcmkg.pipeline.extract import extract_mentions, ingest, resolve_anchors, rule_prefilter
from tcmkg.pipeline.runner import KGPipeline
from tcmkg.pipeline.triples import assemble_triples

import inputs
import oracles
from oracles import Score


@dataclass
class Attempt:
    op_s: float
    followup_s: float  # the timed median, when an op repeats its follow-up
    items: int
    ok: bool = True
    followup_reps: tuple = ()  # every repetition, untimed ones first

    @property
    def busy_s(self) -> float:
        """Wall time of the op and of every follow-up it ran."""
        return self.op_s + (sum(self.followup_reps) or self.followup_s)


@dataclass
class Context:
    spark: object
    run_dir: str
    canon_dir: str
    seed: int
    oracle_cache: str

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


# traced-only incremental step: conversations in the landed base and tranche
INCREMENTAL_BASE = 100
INCREMENTAL_TRANCHE = 20
# traced-only canonicalization: how many of the 9 entity types it covers
CANON_TRACED_TYPES = 3


def _materialize(df):
    """Persist and count: the layer's input exists before its span opens."""
    df = df.persist()
    return df, df.count()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


class Backfill:
    """KGPipeline.run into a fresh checkpoint dir, then the reference export;
    the follow-up repeats both calls against the completed checkpoint dir."""

    name = "backfill"
    n_conversations = 1000
    # A batch build runs once per process, so its users pay the first op's
    # JIT and codegen on every run: the timed op is the process's first.
    warmup_ops = 0
    # One resume per run spread 16-29% of its median between runs, and
    # resumes in one process kept getting faster over the first few (4.6 s
    # to 3.4 s over six on a 4-core host). Each op resumes `resume_warmups` times
    # untimed, then `resumes` times timed, and reports their median.
    resume_warmups = 2
    resumes = 3

    def __init__(self, ctx: Context, score: Score, extractor) -> None:
        self.ctx, self.score, self.extractor = ctx, score, extractor

    def prepare(self) -> None:
        pdf = inputs.transcripts(self.ctx.seed, self.n_conversations)
        self.n_turns = len(pdf)
        self.corpus = self.ctx.path("inputs", "corpus.parquet")
        inputs.write_transcripts(pdf, self.corpus)
        self.want = oracles.kg_triples(self.extractor, pdf)

    def setup(self) -> None:
        self.pipe = KGPipeline(self.ctx.spark, canon_dir=self.ctx.canon_dir)

    def op(self, i: int, warmup: bool) -> Attempt:
        spark, pipe, corpus = self.ctx.spark, self.pipe, self.corpus
        ck, out_dir = self.ctx.path(f"ck{i}"), self.ctx.path(f"export{i}")
        try:
            t0 = time.perf_counter()
            out = pipe.run(spark.read.parquet(corpus), checkpoint_dir=ck)
            pipe.export_reference_layout(out["triples"], out_dir)
            t1 = time.perf_counter()
            resumed, reps = [], []
            for k in range(self.resume_warmups + self.resumes):
                r0 = time.perf_counter()
                again = pipe.run(spark.read.parquet(corpus), checkpoint_dir=ck)
                pipe.export_reference_layout(again["triples"], f"{out_dir}r{k}")
                reps.append(time.perf_counter() - r0)
                resumed.append(again["triples"])
            resume_s = statistics.median(reps[self.resume_warmups:])
            if warmup:
                return Attempt(t1 - t0, resume_s, 0, followup_reps=tuple(reps))
            ok = self.score.add(oracles.spark_triples(out["triples"].collect()), self.want)
            for triples in resumed:
                ok &= self.score.add(oracles.spark_triples(triples.collect()), self.want)
            return Attempt(t1 - t0, resume_s, self.n_turns, ok, followup_reps=tuple(reps))
        finally:
            n = self.resume_warmups + self.resumes
            for d in [ck, out_dir] + [f"{out_dir}r{k}" for k in range(n)]:
                shutil.rmtree(d, ignore_errors=True)

    def traced(self, tr) -> float:
        spark, pipe = self.ctx.spark, self.pipe
        ck, out_dir = self.ctx.path("ck_traced"), self.ctx.path("export_traced")
        store = CheckpointStore(ck)
        src, _ = _materialize(spark.read.parquet(self.corpus))
        with tr.span("op") as op:
            with tr.span("extract.ingest") as s:
                turns, n_turns = _materialize(ingest(src))
                s["rows_out"] = n_turns
            with tr.span("extract.resolve_anchors") as s:
                resolved, s["rows_out"] = _materialize(resolve_anchors(turns, pipe.formula_alias))
            with tr.span("extract.rule_prefilter") as s:
                pre, n_pre = _materialize(rule_prefilter(resolved))
                s["rows_out"] = n_pre
            with tr.span("extract.extract_mentions") as s:
                mentions, n_mentions = _materialize(
                    extract_mentions(spark, pre, pipe.maps, cache_key=f"perfbench-{tr.trace_id}")
                )
                s["rows_out"] = n_mentions
            with tr.span("checkpoints.write") as s:
                store.write(mentions, "s1_mentions", partition_by=["kind"])
                s["rows_out"] = n_mentions
            with tr.span("checkpoints.read") as s:
                m2, s["rows_out"] = _materialize(store.read(spark, "s1_mentions"))
            with tr.span("triples.assemble_triples") as s:
                triples, n_triples = _materialize(assemble_triples(m2))
                s["rows_out"] = n_triples
            with tr.span("checkpoints.write") as s:
                store.write(triples, "s2_triples", partition_by=["pred"])
                s["rows_out"] = n_triples
            with tr.span("export"):
                pipe.export_reference_layout(triples, out_dir)
        tr.ratios["extract.rule_prefilter.pass_ratio"] = n_pre / n_turns
        tr.ratios["extract.extract_mentions.partials_per_turn"] = n_mentions / n_pre
        tr.ratios["checkpoints.write.bytes_written"] = _dir_bytes(ck)
        tr.ok &= self.score.add(oracles.spark_triples(triples.collect()), self.want)
        # the follow-up, staged: complete the nodes/metrics stages untimed,
        # then resume from the completed store and re-export
        pipe.run(spark.read.parquet(self.corpus), checkpoint_dir=ck)
        with tr.span("checkpoints.read") as s:
            again = pipe.run(spark.read.parquet(self.corpus), checkpoint_dir=ck)
            resumed = again["triples"].collect()
            s["rows_out"] = len(resumed)
        with tr.span("export"):
            pipe.export_reference_layout(again["triples"], out_dir + "r")
        tr.ok &= self.score.add(oracles.spark_triples(resumed), self.want)
        _traced_incremental(self.ctx, tr, self.score, self.extractor, pipe)
        return op["end"] - op["start"]


def _traced_incremental(ctx: Context, tr, score: Score, extractor, pipe) -> None:
    """run_incremental over a landed base plus one tranche of whole
    conversations; the tranche commit and the assembly over the union of
    tranches are separate spans. No untraced workload calls it (README)."""
    base = inputs.transcripts(ctx.seed, INCREMENTAL_BASE, salt=2)
    tranche = inputs.tranche(ctx.seed, 0, INCREMENTAL_TRANCHE, after=INCREMENTAL_BASE)
    land, ck = ctx.path("landing"), ctx.path("incremental")
    inputs.write_transcripts(base, os.path.join(land, "base.parquet"))
    pipe.run_incremental(land, ck)["triples"].count()
    inputs.write_transcripts(tranche, os.path.join(land, "tranche00000.parquet"))
    with tr.span("runner.run_incremental"):
        out = pipe.run_incremental(land, ck)
    with tr.span("triples.assemble_triples") as s:
        s["rows_out"] = out["triples"].count()
    want = oracles.kg_triples(extractor, pd.concat([base, tranche], ignore_index=True))
    tr.ok &= out["n_new_files"] == 1
    tr.ok &= score.add(oracles.spark_triples(out["triples"].collect()), want)


def _traced_canon_refresh(ctx: Context, tr, score: Score) -> None:
    """Cold canonicalization of the seed-permuted records of the
    CANON_TRACED_TYPES largest entity types into a fresh store. No untraced
    workload reaches it: a 9-type refresh takes 40-60 s at local[4], which
    with the standalone CC spans would push this run past its time limit
    (README)."""
    spark = ctx.spark
    gaz = inputs.permuted_gazetteers(ctx.seed)
    want = oracles.alias_maps(gaz)
    store = CheckpointStore(ctx.path("canon_traced"))
    schema = "record_id string, names string, symmap_id string, extdb_id string"
    # the incidence-form CC may be folded into the pair-edge one later
    incidence_cc = getattr(cc, "connected_components", None)
    largest = sorted(gaz.tables().items(), key=lambda kv: (-len(kv[1]), kv[0]))
    for etype, records in largest[:CANON_TRACED_TYPES]:
        rec_df, _ = _materialize(spark.createDataFrame(records_to_rows(records), schema))
        if incidence_cc is not None:
            inc, _ = _materialize(gazetteer_incidence(rec_df))
            with tr.span("cc.connected_components") as s:
                s["rows_out"] = incidence_cc(inc).count()
        with tr.span("canonicalize") as s:
            _, alias2canon = canonicalize(rec_df, CANON_PREFIX[etype])
            alias2canon, s["rows_out"] = _materialize(alias2canon)
        with tr.span("checkpoints.write") as s:
            store.write(alias2canon, f"alias_{etype}")
            s["rows_out"] = alias2canon.count()
        got = normalize_alias_map(
            [(r["alias"], r["canonical_id"]) for r in alias2canon.collect()]
        )
        tr.ok &= score.add(got, want[etype])
    tr.ratios["checkpoints.write.bytes_written"] = _dir_bytes(store.root)


class NearDedup:
    """ops.dedup.near_dedup over documents made from generated turn texts;
    the follow-up reads the kept corpus and the lineage metrics off the
    op's result while its signature cache is still held."""

    name = "near_dedup"
    n_docs = 1000
    n_warmup_docs = 200
    # op time falls steeply over the first two ops (about 9 s, then 4-5 s)
    # and by a few percent per op after that; the median of the timed ops
    # absorbs the rest
    warmup_ops = 2

    def __init__(self, ctx: Context, score: Score, extractor=None) -> None:
        self.ctx, self.score = ctx, score

    def prepare(self) -> None:
        docs = inputs.documents(self.n_docs)
        self.docs = self.ctx.path("inputs", "documents.parquet")
        self.warm_docs = self.ctx.path("inputs", "warm_documents.parquet")
        os.makedirs(os.path.dirname(self.docs), exist_ok=True)
        docs.to_parquet(self.docs, index=False)
        docs.head(self.n_warmup_docs).to_parquet(self.warm_docs, index=False)
        self.want = oracles.near_dedup_removals(docs, self.ctx.oracle_cache)

    def setup(self) -> None:
        self.ctx.spark.read.parquet(self.docs).count()

    def op(self, i: int, warmup: bool) -> Attempt:
        t0 = time.perf_counter()
        res = near_dedup(
            self.ctx.spark.read.parquet(self.warm_docs if warmup else self.docs),
            "doc_id", "text", max_bucket=LSH_MAX_BUCKET, threshold=0.5,
        )
        try:
            removals = res["removals"].collect()
            t1 = time.perf_counter()
            kept = res["kept"].count()
            metrics = {r["metric"]: r["value"] for r in res["metrics"].collect()}
            t2 = time.perf_counter()
        finally:
            res["unpersist"]()
        if warmup:
            return Attempt(t1 - t0, t2 - t1, 0)
        got = {(r["removed_doc"], r["keep_doc"]): r["via"] for r in removals}
        ok = self.score.add(got, self.want)
        n_removed = len(self.want)
        ok &= kept == self.n_docs - n_removed
        ok &= metrics.get("n_removed") == n_removed and metrics.get("n_docs") == self.n_docs
        return Attempt(t1 - t0, t2 - t1, self.n_docs, ok)

    def traced(self, tr) -> float:
        """The chain's stages called one by one (verify → CC on verified
        edges; the oversize-bucket exact route is not staged). Correctness
        of the traced run comes from the untraced op it also runs."""
        docs, _ = _materialize(self.ctx.spark.read.parquet(self.docs))
        with tr.span("op") as op:
            with tr.span("dedup.minhash_signatures") as s:
                sigs, s["rows_out"] = _materialize(minhash_signatures(docs, "doc_id", "text"))
            with tr.span("dedup.lsh_candidate_pairs") as s:
                pairs, s["rows_out"] = _materialize(lsh_candidate_pairs(sigs, LSH_MAX_BUCKET))
            with tr.span("dedup.pair_jaccard") as s:
                verified, s["rows_out"] = _materialize(
                    pair_jaccard(pairs, docs, "doc_id", "text").filter(F.col("jaccard") >= 0.5)
                )
            with tr.span("cc.connected_components_edges") as s:
                edges = verified.select("a", "b").localCheckpoint()
                s["rows_out"] = cc.connected_components_edges(edges).count()
        n_pairs = pairs.count()
        tr.ratios["dedup.pair_jaccard.verified_ratio"] = (
            verified.count() / n_pairs if n_pairs else 0.0
        )
        _traced_canon_refresh(self.ctx, tr, self.score)
        return op["end"] - op["start"]


WORKLOADS = {w.name: w for w in (Backfill, NearDedup)}
