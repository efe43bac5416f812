"""North-rule invariants: per-turn text equality, partition-count
determinism, checkpoint resume (SURVEY.md §5.2 items 2, 5)."""

import pytest
from pyspark.sql import functions as F


def test_per_turn_text_equality(spark, pipeline, transcripts_df, transcripts_pdf):
    """Reassembled turn text == input text under stable ordering: the ingest
    stage must preserve every kept turn's text byte-for-byte (empty anti-join
    both ways against the expected dedup of the input)."""
    from tcmkg.pipeline.extract import ingest

    out = ingest(transcripts_df).select("conv_id", "turn_idx", "text")

    # expected: min-(ts,text) row per (conv_id, turn_idx), computed in pandas
    pdf = transcripts_pdf.sort_values(["conv_id", "turn_idx", "ts", "text"])
    expected = pdf.groupby(["conv_id", "turn_idx"], as_index=False).first()[
        ["conv_id", "turn_idx", "text"]
    ]
    exp_df = spark.createDataFrame(expected)

    on = ["conv_id", "turn_idx", "text"]
    assert out.join(exp_df, on, "left_anti").count() == 0
    assert exp_df.join(out, on, "left_anti").count() == 0
    assert out.count() == exp_df.count()


def test_determinism_across_partitionings(pipeline, transcripts_df):
    """Same triple set regardless of input partitioning (stand-in for the
    local[8] vs local[32] identity, which bench_scaling.py exercises with
    real separate sessions)."""
    t3 = pipeline.triples(transcripts_df.repartition(3)).collect()
    t17 = pipeline.triples(transcripts_df.repartition(17)).collect()
    s3 = {(r.subj, r.pred, r.obj) for r in t3}
    s17 = {(r.subj, r.pred, r.obj) for r in t17}
    assert s3 == s17
    w3 = sorted((r.subj, r.pred, r.obj, None if r.weight is None else round(r.weight, 9)) for r in t3)
    w17 = sorted((r.subj, r.pred, r.obj, None if r.weight is None else round(r.weight, 9)) for r in t17)
    assert w3 == w17


def test_checkpoint_resume(tmp_path, spark, pipeline, transcripts_df, golden_triples):
    """Kill-and-resume: run stage 1 only, then a fresh run must reuse the
    checkpoint (manifest hit) and produce the identical final triple set."""
    ckpt = str(tmp_path / "ckpt")

    # partial run: materialize only the mentions stage
    from tcmkg.pipeline.checkpoints import CheckpointStore

    store = CheckpointStore(ckpt)
    store.run_stage(
        spark, "s1_mentions", lambda: pipeline.mentions(transcripts_df),
        partition_by=["kind"],
    )
    assert store.has("s1_mentions")

    # resume: full run over the same checkpoint dir
    out = pipeline.run(transcripts_df, checkpoint_dir=ckpt)
    got = {(r.subj, r.pred, r.obj) for r in out["triples"].collect()}
    want = {(s, p, o) for s, p, o, _ in golden_triples}
    assert got == want

    # second resume reads everything from the manifest (no recompute path)
    store2 = CheckpointStore(ckpt)
    assert store2.has("s2_triples") and store2.has("s3_nodes") and store2.has("s4_metrics")
    out2 = pipeline.run(transcripts_df, checkpoint_dir=ckpt)
    got2 = {(r.subj, r.pred, r.obj) for r in out2["triples"].collect()}
    assert got2 == got


def test_metrics_table(tmp_path, spark, pipeline, transcripts_df):
    out = pipeline.run(transcripts_df, checkpoint_dir=str(tmp_path / "m"))
    metrics = {(r.metric, r.key): r.value for r in out["metrics"].collect()}
    preds = {k for (m, k) in metrics if m == "triples_per_pred"}
    assert "formula_contains_herb" in preds
    total = sum(v for (m, _), v in metrics.items() if m == "triples_per_pred")
    assert total == out["triples"].count()
    # A2 quality row is always present (0 when every pair's doses agree)
    assert ("numeric_tolerance_violations", "contains_amt") in metrics


def test_tolerance_violation_metric(tmp_path, spark, pipeline):
    """A planted (formula, herb) pair dosed 三钱 then 一两 (9.375g vs 31.25g,
    far beyond rel_tol=0.2) must surface in the quality-metrics table; a
    same-dose control pair must not."""
    import datetime

    rows = [
        ("c1", 0, "assistant", "四物汤：甘草三钱。", None,
         datetime.datetime(2024, 1, 1, 0, 0, 0)),
        ("c1", 1, "assistant", "四物汤：甘草一两。", None,
         datetime.datetime(2024, 1, 1, 0, 1, 0)),
        ("c2", 0, "assistant", "四物汤：人参三钱。", None,
         datetime.datetime(2024, 1, 1, 0, 2, 0)),
        ("c2", 1, "assistant", "四物汤：人参三钱。", None,
         datetime.datetime(2024, 1, 1, 0, 3, 0)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp",
    )
    out = pipeline.run(df, checkpoint_dir=str(tmp_path / "tol"))
    metrics = {(r.metric, r.key): r.value for r in out["metrics"].collect()}
    assert metrics[("numeric_tolerance_violations", "contains_amt")] == 1.0


def test_nodes_table(pipeline):
    nodes = pipeline.nodes_table()
    pdf = nodes.toPandas()
    assert set(pdf.entity_type.unique()) == {
        "herb", "formula", "symptom", "syndrome", "disease",
        # dimension families (fixtures/dimensions.py vocabularies)
        "property", "flavour", "tropism", "toxicity", "pharm_class",
        # derived-entity families (r5: reference TMIN/TMGE tables)
        "ingredient", "target",
        # locus entities (r5: reference TMLC table, merge_tcm_symptom.py)
        "locus",
        # gene-side families (late r5: reference TMPW/TMBP/TMCC/TMMF
        # tables, extract_other_entities.py)
        "pathway", "bioprocess", "cellcomp", "molfunction",
        # side-effect family (TMSE, extract_other_entities.py:436-496)
        "sideeffect",
        # 20/20 entity parity (r5 session 3): anatomy TMAT gazetteer
        # (extract_other_entities.py:276-324) + mm_symptom TMMS
        # (extract_mm_symmptom.py)
        "anatomy", "mm_symptom",
    }
    # dimension nodes carry [zh, en] names with reference-scheme ids
    assert (pdf.entity_type == "tropism").sum() == 12
    # hot herb merged: its canonical entity carries all alias names
    hot = pdf[pdf.names.apply(lambda ns: "甘草" in list(ns))]
    assert len(hot) == 1
    assert {"国老", "甜草根", "粉草", "乌拉尔甘草", "甘草"} <= set(hot.iloc[0]["names"])
    # canonical ids unique
    assert pdf.canonical_id.is_unique


def test_checkpoint_recovers_from_torn_write(tmp_path, spark, pipeline, transcripts_df):
    """A stage directory without _SUCCESS (torn write / killed job) must be
    recomputed even if the manifest says complete — resume is crash-safe."""
    import os
    import shutil

    from tcmkg.pipeline.checkpoints import CheckpointStore

    ckpt = str(tmp_path / "torn")
    store = CheckpointStore(ckpt)
    store.run_stage(
        spark, "s1_mentions", lambda: pipeline.mentions(transcripts_df),
        partition_by=["kind"],
    )
    n_before = store.read(spark, "s1_mentions").count()
    # simulate the torn write: data dir half-gone, manifest still claims done
    os.remove(os.path.join(ckpt, "s1_mentions", "_SUCCESS"))
    assert not store.has("s1_mentions")
    store2 = CheckpointStore(ckpt)
    assert not store2.has("s1_mentions")
    shutil.rmtree(os.path.join(ckpt, "s1_mentions"))
    df = store2.run_stage(
        spark, "s1_mentions", lambda: pipeline.mentions(transcripts_df),
        partition_by=["kind"],
    )
    assert df.count() == n_before


def test_gazetteer_canon_checkpoint(tmp_path, spark, gazetteers):
    """Second-session construction resumes from the canon stage tables: one
    `alias` stage for every entity type, `nodes_all` and `symptom_locus`,
    and no per-type stage. A cold construction (one canonicalization over
    all types) runs at most 62 Spark jobs, a warm one at most 2, and the
    resumed pipeline's alias maps and node tables equal the computing
    run's."""
    import os

    from tcmkg.pipeline.checkpoints import CheckpointStore
    from tcmkg.pipeline.runner import KGPipeline, _gaz_fingerprint

    d = str(tmp_path / "canon")
    p1, jobs = _jobs_in(  # computes + writes
        spark, "canon-cold", lambda: KGPipeline(spark, gazetteers, canon_dir=d)
    )
    assert jobs <= 62, jobs
    store = CheckpointStore(os.path.join(d, _gaz_fingerprint(gazetteers)))
    stages = ["alias", "nodes_all", "symptom_locus"]
    assert sorted(store.manifest) == stages and all(map(store.has, stages))

    p2, jobs = _jobs_in(  # resumes
        spark, "canon-warm", lambda: KGPipeline(spark, gazetteers, canon_dir=d)
    )
    assert jobs <= 2, jobs
    assert p2.maps == p1.maps
    n1 = {tuple(sorted(r["names"])) + (r["canonical_id"], r["entity_type"])
          for r in p1.nodes_table().collect()}
    n2 = {tuple(sorted(r["names"])) + (r["canonical_id"], r["entity_type"])
          for r in p2.nodes_table().collect()}
    assert n1 == n2
    l1 = {(r["subj"], r["obj"]) for r in p1.symptom_locus().collect()}
    l2 = {(r["subj"], r["obj"]) for r in p2.symptom_locus().collect()}
    assert l1 and l1 == l2


def test_gaz_fingerprint_covers_vocabularies(monkeypatch, gazetteers):
    """The canon cache key changes with the source of the locus and
    dimension modules the cached node and symptom→locus tables come from."""
    import inspect

    from tcmkg.fixtures import dimensions, locus as locus_vocab
    from tcmkg.pipeline import locus, runner

    base = runner._gaz_fingerprint(gazetteers)
    real = inspect.getsource
    for mod in (locus, locus_vocab, dimensions):
        assert mod in runner.FINGERPRINT_MODULES
        monkeypatch.setattr(
            inspect, "getsource", lambda m, mod=mod: real(m) + ("#" if m is mod else "")
        )
        assert runner._gaz_fingerprint(gazetteers) != base
    monkeypatch.undo()
    assert runner._gaz_fingerprint(gazetteers) == base


def test_checkpoint_layout(tmp_path, spark, pipeline, transcripts_df):
    """run() writes few files: neither s1_mentions nor s2_triples is
    partitioned (by kind, by pred), and each holds at most
    2 x defaultParallelism data files."""
    import os

    ckpt = str(tmp_path / "layout")
    pipeline.run(transcripts_df, checkpoint_dir=ckpt)

    for stage, col in (("s1_mentions", "kind="), ("s2_triples", "pred=")):
        d = os.path.join(ckpt, stage)
        assert not [e for e in os.listdir(d) if e.startswith(col)], stage
        n = len([f for f in os.listdir(d) if f.startswith("part-")])
        assert 1 <= n <= 2 * spark.sparkContext.defaultParallelism, (stage, n)


def _jobs_in(spark, group, fn):
    """(fn(), number of Spark jobs fn ran) by a job-group census."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_reads_run_no_jobs(tmp_path, spark, pipeline, transcripts_df):
    """A stage read takes its schema from the manifest entry: reading any
    of run()'s four stages runs no Spark job, and the schema equals what
    parquet inference reports — partition columns included, for a stage
    written partitioned."""
    import os
    import uuid

    from tcmkg.pipeline.checkpoints import CheckpointStore

    ckpt = str(tmp_path / "reads")
    out = pipeline.run(transcripts_df, checkpoint_dir=ckpt)
    store = CheckpointStore(ckpt)
    store.write(out["metrics"], "by_metric", partition_by=["metric"])
    for stage in ("s1_mentions", "s2_triples", "s3_nodes", "s4_metrics", "by_metric"):
        assert "schema" in store.manifest[stage]
        schema, jobs = _jobs_in(
            spark, f"stage-read-{uuid.uuid4().hex}", lambda: store.read(spark, stage).schema
        )
        assert jobs == 0, stage
        assert schema == spark.read.parquet(os.path.join(ckpt, stage)).schema, stage
    assert store.read(spark, "by_metric").columns[-1] == "metric"


def test_checkpoint_parent_layout_resumes(tmp_path, spark, pipeline, transcripts_df):
    """A checkpoint in the previous layout — s2_triples partitioned by
    pred, manifest entries without a schema — resumes without recomputing
    and gives the same triples and weights as a fresh run."""
    import json
    import os

    from tcmkg.pipeline.checkpoints import CheckpointStore
    from tcmkg.pipeline.triples import assemble_triples

    def triples(out):
        return sorted(
            (r["subj"], r["pred"], r["obj"], None if r["weight"] is None else round(r["weight"], 9))
            for r in out["triples"].collect()
        )

    want = triples(pipeline.run(transcripts_df, checkpoint_dir=str(tmp_path / "new")))

    old = str(tmp_path / "old")
    store = CheckpointStore(old)
    mentions = pipeline.mentions(transcripts_df)
    store.write(mentions, "s1_mentions")
    store.write(assemble_triples(store.read(spark, "s1_mentions")), "s2_triples",
                partition_by=["pred"])
    store.write(pipeline.nodes_table(), "s3_nodes")
    store.write(
        pipeline._metrics(store.read(spark, "s1_mentions"), store.read(spark, "s2_triples")),
        "s4_metrics",
    )
    mf = os.path.join(old, "_MANIFEST.json")
    with open(mf) as f:
        manifest = json.load(f)
    for entry in manifest.values():
        del entry["schema"]
    with open(mf, "w") as f:
        json.dump(manifest, f)

    assert triples(pipeline.run(transcripts_df, checkpoint_dir=old)) == want
    # resumed, not recomputed: the pred= layout and the schema-less entries stay
    assert [d for d in os.listdir(os.path.join(old, "s2_triples")) if d.startswith("pred=")]
    assert not any("schema" in e for e in CheckpointStore(old).manifest.values())


def test_read_committed_skips_unpublished_stage(tmp_path, spark):
    """read_committed reads only the manifest's `<col>=` stages, `col`
    typed string: a stage dir renamed into place without a manifest entry
    (a crash between the rename and the manifest write) is invisible to it,
    though a whole-root read includes it."""
    import os
    import shutil

    from tcmkg.pipeline.checkpoints import CheckpointStore

    root = str(tmp_path / "committed")
    store = CheckpointStore(root)
    with pytest.raises(FileNotFoundError):
        store.read_committed(spark, "epoch")
    store.write(spark.range(3), "epoch=0")
    store.write(spark.range(10, 12), "epoch=1")
    shutil.copytree(os.path.join(root, "epoch=1"), os.path.join(root, "epoch=2"))

    got = store.read_committed(spark, "epoch")
    assert got.schema["epoch"].dataType.typeName() == "string"
    assert sorted((r["epoch"], r["id"]) for r in got.collect()) == (
        [("0", i) for i in range(3)] + [("1", 10), ("1", 11)]
    )
    assert spark.read.parquet(root).count() == 7


def test_constant_frames_are_local_relations(spark, pipeline, gazetteers, monkeypatch):
    """Driver-built constant frames are JVM LocalRelations, not LogicalRDDs
    of pickled rows whose every scan runs Python tasks. Arrow conversion
    falls back to the pickled path silently, so only this test notices:
    formula_alias, the all-types gazetteer records frame, the _union_nodes
    dims frame and the locus surface frame."""
    from tcmkg.pipeline import locus, runner, util

    made = []

    def spy(*args, local_frame=util.local_frame):
        made.append(local_frame(*args))
        return made[-1]

    monkeypatch.setattr(util, "local_frame", spy)
    monkeypatch.setattr(locus, "local_frame", spy)
    runner._gaz_records(spark, gazetteers)
    runner._union_nodes(spark, pipeline.nodes_table())
    locus.symptom_locus_edges(pipeline.nodes_table())
    assert len(made) == 3
    for df in [pipeline.formula_alias] + made:
        assert df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"


def test_checkpoint_manifest_merges_stores(tmp_path, spark):
    """Two stores on one root, both built before either writes: each
    write merges into the on-disk manifest, so neither drops the other's
    entry."""
    from tcmkg.pipeline.checkpoints import CheckpointStore

    root = str(tmp_path / "shared")
    a, b = CheckpointStore(root), CheckpointStore(root)
    a.write(spark.range(3), "from_a")
    b.write(spark.range(4), "from_b")
    fresh = CheckpointStore(root)
    assert fresh.has("from_a") and fresh.has("from_b")
    assert fresh.read(spark, "from_a").count() == 3


def _publish_worker(root, tag, n, barrier):
    """One OS process of test_checkpoint_two_process_publish: pyarrow
    writes finished stage dirs under `root`, then the Spark-free publish
    commits them — ten own stages, then the shared stage ten times."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tcmkg.pipeline.checkpoints import CheckpointStore

    store = CheckpointStore(root)

    def finished_dir(stage, i):
        tmp = os.path.join(root, f".{stage}.tmp-{tag}{i}")
        os.makedirs(tmp)
        pq.write_table(pa.table({"id": list(range(n))}), os.path.join(tmp, "part-0.parquet"))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        return tmp

    for stages in ([f"{tag}{i}" for i in range(10)], ["same"] * 10):
        tmps = [finished_dir(stage, i) for i, stage in enumerate(stages)]
        barrier.wait(120)
        for tmp, stage in zip(tmps, stages):
            store.publish(tmp, stage)


def test_checkpoint_two_process_publish(tmp_path, spark):
    """Two OS processes publish into one root at once, first different
    stages, then the same stage: both finish, the manifest lists every
    stage, every stage is readable and no temp or moved-aside dir is left."""
    import multiprocessing
    import os

    from tcmkg.pipeline.checkpoints import CheckpointStore

    root = str(tmp_path / "shared")
    ctx = multiprocessing.get_context("spawn")
    barrier = ctx.Barrier(2)
    procs = [
        ctx.Process(target=_publish_worker, args=(root, tag, n, barrier))
        for tag, n in (("a", 3), ("b", 4))
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(300)
    assert [p.exitcode for p in procs] == [0, 0]

    store = CheckpointStore(root)
    stages = {f"{t}{i}" for t in "ab" for i in range(10)} | {"same"}
    assert set(store.manifest) == stages
    assert all(store.has(s) for s in stages)
    for s in stages - {"same"}:
        assert store.read(spark, s).count() == (3 if s[0] == "a" else 4)
    assert store.read(spark, "same").count() in (3, 4)
    assert sorted(os.listdir(root)) == sorted(stages | {"_MANIFEST.json", "_MANIFEST.json.lock"})


def test_checkpoint_failed_publish_leaves_no_stage(tmp_path, spark, monkeypatch):
    """A failure after the Spark write and before the publish leaves no
    visible stage — neither from the raising writer nor from the finished
    temp dir a killed writer would leave — and the next run_stage
    recomputes."""
    import shutil

    from tcmkg.pipeline.checkpoints import CheckpointStore

    root = str(tmp_path / "crash")
    store = CheckpointStore(root)
    store.write(spark.range(3), "epoch=0")

    def killed(self, tmp, stage, meta=None):
        shutil.copytree(tmp, tmp + "-killed")  # what a killed process leaves
        raise RuntimeError("killed before publish")

    monkeypatch.setattr(CheckpointStore, "publish", killed)
    with pytest.raises(RuntimeError):
        store.write(spark.range(10, 15), "epoch=1")
    monkeypatch.undo()

    for s in (store, CheckpointStore(root)):
        assert s.has("epoch=0") and not s.has("epoch=1")
    assert sorted(r["id"] for r in spark.read.parquet(root).collect()) == [0, 1, 2]

    calls = []
    df = store.run_stage(spark, "epoch=1", lambda: calls.append(1) or spark.range(10, 15))
    assert calls == [1] and df.count() == 5
    assert sorted((r["epoch"], r["id"]) for r in spark.read.parquet(root).collect()) == (
        [(0, i) for i in range(3)] + [(1, i) for i in range(10, 15)]
    )


def test_default_driver_memory(monkeypatch):
    """Driver memory defaults to the smaller of 24g and half the host's
    physical memory (computed without starting a session)."""
    from tcmkg import session

    for phys_gib, want in ((15, "7680m"), (256, "24576m")):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib * 2**30 // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        assert session.default_driver_memory() == want


def test_unlinked_diagnostics_and_soft_link(spark, pipeline, transcripts_df):
    """Tier-3 linking: unresolved mentions surface as diagnostics (the
    reference's unrecorded-herb counter) and the embedding soft-linker
    resolves near-miss variants of real names above threshold."""
    from tcmkg.pipeline.linking import soft_link, unlinked_mentions

    mentions = pipeline.mentions(transcripts_df)
    unlinked = unlinked_mentions(mentions)
    toks = {r["token"] for r in unlinked.collect()}
    # fixture plants 甘草霜 / 红参须 / 假黄芪 as unlinkable prescription tokens
    assert "甘草霜" in toks

    linked = soft_link(spark, unlinked, pipeline.maps["herb"], threshold=0.6)
    got = {r["token"]: (r["canonical_id"], r["matched_alias"], r["sim"])
           for r in linked.collect()}
    # trigram-similar variant resolves to the true herb's canonical entity
    from tcmkg.kernels.normalize import text_norm
    assert got["甘草霜"][0] == pipeline.maps["herb"][text_norm("甘草")]
    assert got["甘草霜"][2] >= 0.6
    # every soft link must clear the threshold
    assert all(sim >= 0.6 for _, _, sim in got.values())


def test_materialize_graph_bucketed(spark, pipeline, transcripts_df):
    """Materialized node/edge tables are co-located: the subj = canonical_id
    join plans zero data exchanges with broadcast disabled."""
    import re

    tables = pipeline.materialize_graph(pipeline.triples(transcripts_df), buckets=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        e = spark.table(tables["edges"])
        n = spark.table(tables["nodes"])
        j = e.join(n, e.subj == n.canonical_id).select("subj", "pred", "obj", "entity_type")
        j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0
        # every edge subject resolves to a node of the right type
        assert j.count() == e.count()
        assert e.join(n, e.subj == n.canonical_id, "left_anti").count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_stage_resume_schema_guard(tmp_path, spark):
    """A stage table written by an older code version (missing an expected
    column) must recompute instead of resuming."""
    from pyspark.sql import functions as F

    from tcmkg.pipeline.checkpoints import CheckpointStore

    store = CheckpointStore(str(tmp_path / "sg"))
    old = spark.range(5).select(F.col("id").alias("a"))
    store.write(old, "s")
    new = spark.range(5).select(F.col("id").alias("a"), F.lit(1).alias("b"))
    # without the guard: resumes the old (a-only) table
    assert store.run_stage(spark, "s", lambda: new).columns == ["a"]
    # with the guard: recomputes and persists the new schema
    got = store.run_stage(spark, "s", lambda: new, expect_cols=["b"])
    assert set(got.columns) == {"a", "b"}
    assert set(store.read(spark, "s").columns) == {"a", "b"}


def test_assembly_drops_null_pair_keys(spark):
    """reduce_mentions drops mention rows with a NULL subj or obj, so the
    grouped assembly never co-groups NULL keys: extra null-key rows (which
    would otherwise publish NULL-ended triples and de-conflict each other)
    leave assemble_triples' rows unchanged."""
    from tcmkg.pipeline.extract import MENTION_SCHEMA
    from tcmkg.pipeline.triples import assemble_triples

    def frame(pairs):
        return spark.createDataFrame(
            [(k, s, o, 1, 2.0, 2.0, 2.0, 0, 0, False) for k, s, o in pairs],
            MENTION_SCHEMA,
        )

    clean = [
        ("treats", "h1", "d1"), ("treats", "h2", "d1"),
        ("induces", "h2", "d1"), ("is_a", "d1", "d2"),
        ("contains", "f1", "h1"), ("h_symptom", "h1", "s1"),
    ]
    nulls = [
        ("treats", None, "d1"), ("induces", None, "d1"),
        ("is_a", "d2", None), ("is_a", None, "d2"),
        ("contains", "f1", None), ("h_symptom", None, None),
    ]
    rows = lambda df: {
        (r["subj"], r["pred"], r["obj"], r["weight"]) for r in df.collect()
    }
    want = rows(assemble_triples(frame(clean)))
    assert want and rows(assemble_triples(frame(clean + nulls))) == want


def test_repeated_near_dedup_reuses_generated_code(spark, transcripts_pdf):
    """The session's generated-class cache holds near_dedup's working set:
    a second identical call finds its classes cached. At Spark's default of
    100 entries the second call recompiled most of them (108 of 131)."""
    import re

    from tcmkg import session
    from tcmkg.ops.dedup import near_dedup

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    texts = sorted(set(transcripts_pdf["text"]))[:1000]
    docs = spark.createDataFrame(
        [(i, " ".join(c for c in re.split(r"[，。、：；！？,.;:]", t) if c))
         for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def call():
        before = metric.getCount()
        res = near_dedup(docs, "doc_id", "text", threshold=0.5)
        try:
            removals = sorted(res["removals"].collect())
        finally:
            res["unpersist"]()
        return removals, metric.getCount() - before

    first, compiled_first = call()
    second, compiled_second = call()
    assert first == second and first
    assert compiled_second <= max(20, compiled_first // 4), (compiled_first, compiled_second)


def test_text_norm_col_matches_python_lower(spark, transcripts_pdf, gazetteers):
    """text_norm_col (JVM case mapping, ICU off) equals the oracle's
    text_norm on every distinct character of the fixture transcripts and
    gazetteer names, and on strings whose case mapping is special."""
    from tcmkg.kernels.normalize import text_norm, text_norm_col

    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    chars = set("".join(transcripts_pdf["text"]))
    for records in gazetteers.tables().values():
        chars.update("".join(n for r in records for n in r.names))
    probes = sorted(chars) + ["ΑΣ", "İstanbul", "ẞ", "ǅ", "TNF-α", "麻黄汤ABC"]
    df = spark.createDataFrame([(s,) for s in probes], "s string")
    got = dict(df.select("s", text_norm_col(F.col("s")).alias("n")).collect())
    assert len(got) == len(probes)
    assert {s: n for s, n in got.items() if n != text_norm(s)} == {}


def test_respread_width_runs_no_jobs(tmp_path, spark):
    """_respread_by reads the input's width off the physical plan: deciding
    runs no Spark job for a scan, a groupBy or a join input, and a scan
    gets the decision the materialized width would give (a single-file
    scan respreads, a scan at least core-wide does not)."""
    import uuid

    from tcmkg.ops.dedup import _respread_by

    par = spark.sparkContext.defaultParallelism
    rows = spark.range(4000).selectExpr("id", "cast(id % 97 as string) AS t")
    rows.coalesce(1).write.parquet(str(tmp_path / "one"))
    rows.repartition(2 * par).write.parquet(str(tmp_path / "wide"))
    one = lambda: spark.read.parquet(str(tmp_path / "one"))
    wide = lambda: spark.read.parquet(str(tmp_path / "wide"))

    def respread(df):
        out, jobs = _jobs_in(spark, f"respread-{uuid.uuid4().hex}", lambda: _respread_by(df, "id"))
        assert jobs == 0
        return out is not df

    assert one().rdd.getNumPartitions() == 1 and respread(one())
    assert wide().rdd.getNumPartitions() >= par and not respread(wide())
    assert not respread(one().groupBy("t").agg(F.min("id").alias("id")))
    assert not respread(one().join(wide().withColumnRenamed("t", "u"), "id"))
