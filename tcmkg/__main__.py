"""CLI: the spark-submit entry point.

    spark-submit --py-files tcmkg.zip -m ...   # cluster
    python -m tcmkg build --input <transcripts.parquet> --output <dir>      # local

Subcommands:
    build       run the full KG pipeline: transcripts -> nodes/edges/metrics
    incremental process only landing files not yet in the manifest
    bench       one timed pipeline run (JSON line)
    fixture     write a synthetic transcript corpus (deterministic)
    dedup       near-duplicate dedup a document corpus (kept + removal map)
    prepare     full training-data prep: quality -> dedup -> split -> pack
    stream-dedup  streaming near-dedup of a landing dir against a
                  persisted, growing signature index (availableNow drain)
    ivf-build   build + persist an IVF ANN index over an embedding corpus
    ivf-add     append new vectors to a persisted IVF index (no rebuild)
    ivf-search  cell-pruned top-k search against a persisted index
    pq-build    train + persist a product-quantization codebook + codes
    pq-search   ADC top-k search against a persisted PQ index
    scrub       PII-redact a document corpus
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def cmd_build(args) -> None:
    from .pipeline.runner import KGPipeline
    from .session import get_spark

    spark = get_spark("tcmkg-build", cores=args.cores)
    transcripts = spark.read.parquet(args.input)
    pipe = KGPipeline(spark)
    ckpt = args.checkpoint or (args.output.rstrip("/") + "/_checkpoints")
    out = pipe.run(transcripts, checkpoint_dir=ckpt)
    out["nodes"].write.mode("overwrite").parquet(args.output.rstrip("/") + "/nodes")
    # corpus-independent derived edges (reference tcm_symptom2locus.csv):
    # symptom entities scanned against the locus surface vocabulary
    from pyspark.sql import functions as F

    from .fixtures.locus import PRED_SYMPTOM_LOCUS

    triples = out["triples"].unionByName(
        pipe.symptom_locus().select(
            "subj", F.lit(PRED_SYMPTOM_LOCUS).alias("pred"), "obj",
            F.lit(None).cast("double").alias("weight"),
        )
    )
    triples.write.mode("overwrite").partitionBy("pred").parquet(
        args.output.rstrip("/") + "/edges"
    )
    out["metrics"].write.mode("overwrite").parquet(args.output.rstrip("/") + "/metrics")
    counts = {r["pred"]: r["count"] for r in triples.groupBy("pred").count().collect()}
    print(json.dumps({"status": "ok", "edges_by_pred": counts,
                      "nodes": out["nodes"].count(), "output": args.output}))


def cmd_bench(args) -> None:
    from pyspark.sql import functions as F

    from .pipeline.runner import KGPipeline
    from .session import get_spark

    spark = get_spark("tcmkg-bench", cores=args.cores)
    transcripts = spark.read.parquet(args.input)
    pipe = KGPipeline(spark)
    n = transcripts.count()
    t0 = time.time()
    nt = pipe.triples(transcripts).select(F.count("*")).collect()[0][0]
    wall = time.time() - t0
    print(json.dumps({"turns": n, "triples": nt, "wall_sec": round(wall, 3),
                      "turns_per_sec": round(n / wall, 1)}))


def cmd_fixture(args) -> None:
    from .fixtures.transcripts import write_parquet

    write_parquet(args.output, args.conversations)
    print(json.dumps({"status": "ok", "output": args.output,
                      "conversations": args.conversations}))


def cmd_incremental(args) -> None:
    from .pipeline.runner import KGPipeline
    from .session import get_spark

    spark = get_spark("tcmkg-incremental", cores=args.cores)
    pipe = KGPipeline(spark)
    out = pipe.run_incremental(args.landing, args.checkpoint)
    out["triples"].write.mode("overwrite").partitionBy("pred").parquet(
        args.output.rstrip("/") + "/edges"
    )
    counts = {r["pred"]: r["count"] for r in out["triples"].groupBy("pred").count().collect()}
    print(json.dumps({"status": "ok", "n_new_files": out["n_new_files"],
                      "edges_by_pred": counts, "output": args.output}))


def cmd_dedup(args) -> None:
    from .ops.dedup import near_dedup
    from .session import get_spark

    spark = get_spark("tcmkg-dedup", cores=args.cores)
    docs = spark.read.parquet(args.input)
    out = near_dedup(docs, args.id_col, args.text_col,
                     n_bands=args.n_bands, rows_per_band=args.rows_per_band,
                     max_bucket=args.max_bucket, threshold=args.threshold)
    root = args.output.rstrip("/")
    out["kept"].write.mode("overwrite").parquet(root + "/kept")
    out["removals"].write.mode("overwrite").parquet(root + "/removals")
    out["dropped_buckets"].write.mode("overwrite").parquet(root + "/dropped_buckets")
    metrics = {r["metric"]: r["value"] for r in out["metrics"].collect()}
    print(json.dumps({"status": "ok", "metrics": metrics, "output": args.output}))


def cmd_prepare(args) -> None:
    import ast

    from .ops.prepare import prepare_corpus
    from .session import get_spark

    spark = get_spark("tcmkg-prepare", cores=args.cores)
    docs = spark.read.parquet(args.input)
    fractions = ast.literal_eval(args.fractions)
    quality_kwargs = {
        "min_chars": args.min_chars,
        "max_punct_ratio": args.max_punct_ratio,
        "min_stop_ratio": args.min_stop_ratio,
        "min_distinct_ratio": args.min_distinct_ratio,
    }
    if args.stopwords is not None:
        quality_kwargs["stopwords"] = [s for s in args.stopwords.split(",") if s]
    if args.cjk_stopchars is not None:
        quality_kwargs["cjk_stopchars"] = args.cjk_stopchars
    if args.punct_class is not None:
        quality_kwargs["punct_class"] = args.punct_class
    out = prepare_corpus(docs, args.id_col, args.text_col,
                         fractions=fractions, budget=args.budget,
                         n_bands=args.n_bands, rows_per_band=args.rows_per_band,
                         max_bucket=args.max_bucket, threshold=args.threshold,
                         quality_kwargs=quality_kwargs,
                         repetition=args.gopher_repetition, pii=args.pii)
    root = args.output.rstrip("/")
    out["corpus"].write.mode("overwrite").partitionBy("split").parquet(root + "/corpus")
    out["holdout"].write.mode("overwrite").parquet(root + "/holdout")
    out["quality_removed"].write.mode("overwrite").parquet(root + "/quality_removed")
    out["dedup_removals"].write.mode("overwrite").parquet(root + "/dedup_removals")
    if args.gopher_repetition:
        out["repetition_removed"].write.mode("overwrite").parquet(
            root + "/repetition_removed")
    metrics = {r["metric"]: r["value"] for r in out["metrics"].collect()}
    print(json.dumps({"status": "ok", "metrics": metrics, "output": args.output}))


def cmd_scrub(args) -> None:
    from .ops.pii import pii_scrub
    from .session import get_spark

    spark = get_spark("tcmkg-scrub", cores=args.cores)
    docs = spark.read.parquet(args.input)
    out = pii_scrub(docs, args.text_col)
    out["scrubbed"].write.mode("overwrite").parquet(args.output)
    metrics = out["metrics"].collect()[0].asDict()
    print(json.dumps({"status": "ok", "metrics": metrics, "output": args.output}))


def cmd_stream_dedup(args) -> None:
    import os

    from .pipeline.checkpoints import CheckpointStore
    from .session import get_spark
    from .streaming.ingest import stream_near_dedup

    spark = get_spark("tcmkg-stream-dedup", cores=args.cores)
    q = stream_near_dedup(
        spark, args.input, args.output, args.checkpoint,
        id_col=args.id_col, text_col=args.text_col,
        doc_schema=f"{args.id_col} long, {args.text_col} string",
        n_bands=args.n_bands, rows_per_band=args.rows_per_band,
        max_bucket=args.max_bucket, threshold=args.threshold,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    ok = q.awaitTermination(args.timeout)
    docs, removals = (CheckpointStore(os.path.join(args.output, d)) for d in ("docs", "removals"))
    n_kept, n_removed = (
        s.read_committed(spark, "epoch").count() if s.partitions("epoch") else 0
        for s in (docs, removals)
    )
    print(json.dumps({"status": "ok" if ok else "timeout",
                      "kept": n_kept, "removed": n_removed,
                      "output": args.output}))
    if not ok:
        sys.exit(1)


def cmd_ivf_build(args) -> None:
    from .ops.ann import build_ivf, save_ivf
    from .pipeline.checkpoints import CheckpointStore
    from .session import get_spark

    spark = get_spark("tcmkg-ivf-build", cores=args.cores)
    emb = spark.read.parquet(args.input)
    cent, assign = build_ivf(
        emb, args.id_col, args.vec_col,
        n_centroids=args.n_centroids, n_iter=args.n_iter,
    )
    store = CheckpointStore(args.store)
    save_ivf(store, cent, assign, args.prefix)
    print(json.dumps({"status": "ok", "n_centroids": cent.count(),
                      "n_vectors": assign.count(), "store": args.store}))


def cmd_ivf_add(args) -> None:
    from .ops.ann import ivf_add
    from .pipeline.checkpoints import CheckpointStore
    from .session import get_spark

    spark = get_spark("tcmkg-ivf-add", cores=args.cores)
    emb = spark.read.parquet(args.corpus)
    new = spark.read.parquet(args.new)
    store = CheckpointStore(args.store)
    cent, assign = ivf_add(
        spark, store, emb, new, args.id_col, args.vec_col,
        prefix=args.prefix, max_cell=args.max_cell,
        n_subsplit=args.n_subsplit,
    )
    print(json.dumps({"status": "ok", "n_centroids": cent.count(),
                      "n_vectors": assign.count(), "store": args.store}))


def cmd_pq_build(args) -> None:
    from .ops.pq import pq_encode, save_pq, train_pq
    from .pipeline.checkpoints import CheckpointStore
    from .session import get_spark

    spark = get_spark("tcmkg-pq-build", cores=args.cores)
    emb = spark.read.parquet(args.input)
    books = train_pq(emb, args.id_col, args.vec_col,
                     m=args.m, k=args.k, n_iter=args.n_iter)
    codes = pq_encode(emb, books, args.id_col, args.vec_col)
    store = CheckpointStore(args.store)
    save_pq(store, books, codes, args.prefix)
    # count the PERSISTED table: codes is an unmaterialized plan, and
    # codes.count() would re-run the whole encode the write just executed
    n = store.read(spark, f"{args.prefix}_codes").count()
    print(json.dumps({"status": "ok", "m": args.m, "k": args.k,
                      "n_vectors": n, "store": args.store}))


def cmd_pq_search(args) -> None:
    from pyspark.sql import functions as F

    from .ops.pq import load_pq, pq_search
    from .pipeline.checkpoints import CheckpointStore
    from .session import get_spark

    spark = get_spark("tcmkg-pq-search", cores=args.cores)
    books, codes = load_pq(spark, CheckpointStore(args.store), args.prefix)
    queries = spark.read.parquet(args.queries).select(
        F.col(args.id_col).alias("qid"), F.col(args.vec_col).alias("qv")
    )
    out = pq_search(queries, codes, books, topk=args.topk)
    out.write.mode("overwrite").parquet(args.output)
    # count the WRITTEN parquet, not the plan (which would re-search)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"status": "ok", "rows": n, "output": args.output}))


def cmd_ivf_search(args) -> None:
    from pyspark.sql import functions as F

    from .ops.ann import _as_double, ivf_search, load_ivf
    from .pipeline.checkpoints import CheckpointStore
    from .session import get_spark

    spark = get_spark("tcmkg-ivf-search", cores=args.cores)
    emb = spark.read.parquet(args.corpus)
    queries = spark.read.parquet(args.queries).select(
        F.col(args.id_col).alias("qid"),
        _as_double(F.col(args.vec_col)).alias("qv"),
    )
    store = CheckpointStore(args.store)
    cent, assign = load_ivf(spark, store, args.prefix)
    out = ivf_search(
        queries, emb, cent, assign, args.id_col, args.vec_col,
        nprobe=args.nprobe, topk=args.topk,
    )
    out.write.mode("overwrite").parquet(args.output)
    # count the WRITTEN parquet, not the plan: out.count() would re-execute
    # the entire search job (the pq commands already did it this way)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"status": "ok", "rows": n, "output": args.output}))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="tcmkg")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="transcripts -> KG (nodes/edges/metrics)")
    b.add_argument("--input", required=True, help="transcripts parquet path")
    b.add_argument("--output", required=True, help="output directory")
    b.add_argument("--checkpoint", default=None, help="stage checkpoint dir (resume)")
    b.add_argument("--cores", default=None)
    b.set_defaults(fn=cmd_build)

    be = sub.add_parser("bench", help="one timed pipeline run")
    be.add_argument("--input", required=True)
    be.add_argument("--cores", default=None)
    be.set_defaults(fn=cmd_bench)

    f = sub.add_parser("fixture", help="write synthetic transcript corpus")
    f.add_argument("--output", required=True)
    f.add_argument("--conversations", type=int, default=1000)
    f.set_defaults(fn=cmd_fixture)

    inc = sub.add_parser("incremental", help="process only unseen landing files")
    inc.add_argument("--landing", required=True, help="landing dir of parquet arrivals")
    inc.add_argument("--checkpoint", required=True, help="manifest + tranche dir")
    inc.add_argument("--output", required=True)
    inc.add_argument("--cores", default=None)
    inc.set_defaults(fn=cmd_incremental)

    dd = sub.add_parser("dedup", help="near-duplicate dedup a document corpus")
    dd.add_argument("--input", required=True, help="documents parquet path")
    dd.add_argument("--output", required=True)
    dd.add_argument("--id-col", dest="id_col", default="doc_id")
    dd.add_argument("--text-col", dest="text_col", default="text")
    dd.add_argument("--n-bands", dest="n_bands", type=int, default=6,
                    help="LSH bands (b)")
    dd.add_argument("--rows-per-band", dest="rows_per_band", type=int, default=2,
                    help="minhash rows per band (r): P(bucket)=1-(1-J^r)^b; "
                         "default b=6 r=2 is the measured scale-safe regime; "
                         "r=1 (legacy) goes quadratic on realistic vocabularies")
    dd.add_argument("--max-bucket", dest="max_bucket", type=int, default=256)
    dd.add_argument("--threshold", type=float, default=0.5)
    dd.add_argument("--cores", default=None)
    dd.set_defaults(fn=cmd_dedup)

    pp = sub.add_parser("prepare", help="quality -> dedup -> split -> pack")
    pp.add_argument("--input", required=True, help="documents parquet path")
    pp.add_argument("--output", required=True)
    pp.add_argument("--id-col", dest="id_col", default="doc_id")
    pp.add_argument("--text-col", dest="text_col", default="text")
    pp.add_argument("--fractions", default="{'train': 0.9, 'val': 0.1}")
    pp.add_argument("--budget", type=int, default=2048)
    pp.add_argument("--n-bands", dest="n_bands", type=int, default=6)
    pp.add_argument("--rows-per-band", dest="rows_per_band", type=int, default=2)
    pp.add_argument("--max-bucket", dest="max_bucket", type=int, default=256)
    pp.add_argument("--threshold", type=float, default=0.5)
    # quality knobs — defaults mirror ops.quality.quality_flags (CJK-aware)
    pp.add_argument("--min-chars", dest="min_chars", type=int, default=20)
    pp.add_argument("--max-punct-ratio", dest="max_punct_ratio", type=float, default=0.3)
    pp.add_argument("--min-stop-ratio", dest="min_stop_ratio", type=float, default=0.01)
    pp.add_argument("--min-distinct-ratio", dest="min_distinct_ratio",
                    type=float, default=0.3)
    pp.add_argument("--stopwords", default=None,
                    help="comma-separated stopword list (default: built-in)")
    pp.add_argument("--cjk-stopchars", dest="cjk_stopchars", default=None,
                    help="CJK function characters counted as stopwords "
                         "('' disables; default: built-in zh list)")
    pp.add_argument("--punct-class", dest="punct_class", default=None,
                    help=r"regex char class counted as punctuation "
                         r"(default: [\p{P}\p{S}])")
    pp.add_argument("--gopher-repetition", dest="gopher_repetition",
                    action="store_true",
                    help="add the Gopher repetition filter between the "
                         "quality and dedup stages")
    pp.add_argument("--pii", action="store_true",
                    help="redact PII (email/ip/phone/id-number) after "
                         "dedup, before token counting")
    pp.add_argument("--cores", default=None)
    pp.set_defaults(fn=cmd_prepare)

    sc = sub.add_parser("scrub", help="PII-redact a document corpus")
    sc.add_argument("--input", required=True, help="documents parquet path")
    sc.add_argument("--output", required=True)
    sc.add_argument("--text-col", dest="text_col", default="text")
    sc.add_argument("--cores", default=None)
    sc.set_defaults(fn=cmd_scrub)

    sd = sub.add_parser(
        "stream-dedup",
        help="streaming near-dedup of landing files vs a persisted "
             "signature index (availableNow drain; re-run to process "
             "newly landed files incrementally)",
    )
    sd.add_argument("--input", required=True, help="landing directory (parquet files)")
    sd.add_argument("--output", required=True,
                    help="state root: docs/, removals/, sigstore/")
    sd.add_argument("--checkpoint", required=True)
    sd.add_argument("--id-col", dest="id_col", default="doc_id")
    sd.add_argument("--text-col", dest="text_col", default="text")
    sd.add_argument("--n-bands", dest="n_bands", type=int, default=6)
    sd.add_argument("--rows-per-band", dest="rows_per_band", type=int, default=2)
    sd.add_argument("--max-bucket", dest="max_bucket", type=int, default=256)
    sd.add_argument("--threshold", type=float, default=0.5)
    sd.add_argument("--max-files-per-trigger", dest="max_files_per_trigger",
                    type=int, default=1)
    sd.add_argument("--timeout", type=int, default=3600)
    sd.add_argument("--cores", default=None)
    sd.set_defaults(fn=cmd_stream_dedup)

    ib = sub.add_parser("ivf-build", help="build + persist an IVF ANN index")
    ib.add_argument("--input", required=True, help="embeddings parquet path")
    ib.add_argument("--store", required=True, help="CheckpointStore directory")
    ib.add_argument("--id-col", dest="id_col", default="vec_id")
    ib.add_argument("--vec-col", dest="vec_col", default="embedding")
    ib.add_argument("--n-centroids", dest="n_centroids", type=int, default=64)
    ib.add_argument("--n-iter", dest="n_iter", type=int, default=5)
    ib.add_argument("--prefix", default="ivf")
    ib.add_argument("--cores", default=None)
    ib.set_defaults(fn=cmd_ivf_build)

    ia = sub.add_parser(
        "ivf-add",
        help="append new vectors to a persisted IVF index (assign to "
             "existing centroids; re-split oversized cells locally)",
    )
    ia.add_argument("--corpus", required=True,
                    help="GROWN embedding corpus parquet (old + new)")
    ia.add_argument("--new", required=True, help="new-tranche parquet")
    ia.add_argument("--store", required=True)
    ia.add_argument("--id-col", dest="id_col", default="vec_id")
    ia.add_argument("--vec-col", dest="vec_col", default="embedding")
    ia.add_argument("--max-cell", dest="max_cell", type=int, default=None,
                    help="re-split cells exceeding this population")
    ia.add_argument("--n-subsplit", dest="n_subsplit", type=int, default=2)
    ia.add_argument("--prefix", default="ivf")
    ia.add_argument("--cores", default=None)
    ia.set_defaults(fn=cmd_ivf_add)

    isr = sub.add_parser("ivf-search", help="cell-pruned top-k search")
    isr.add_argument("--corpus", required=True, help="embedding corpus parquet")
    isr.add_argument("--queries", required=True, help="query vectors parquet")
    isr.add_argument("--store", required=True)
    isr.add_argument("--output", required=True)
    isr.add_argument("--id-col", dest="id_col", default="vec_id")
    isr.add_argument("--vec-col", dest="vec_col", default="embedding")
    isr.add_argument("--nprobe", type=int, default=4)
    isr.add_argument("--topk", type=int, default=10)
    isr.add_argument("--prefix", default="ivf")
    isr.add_argument("--cores", default=None)
    isr.set_defaults(fn=cmd_ivf_search)

    pb = sub.add_parser("pq-build", help="train + persist a PQ codebook "
                                         "and compressed corpus")
    pb.add_argument("--input", required=True, help="embedding corpus parquet")
    pb.add_argument("--store", required=True)
    pb.add_argument("--id-col", dest="id_col", default="vec_id")
    pb.add_argument("--vec-col", dest="vec_col", default="embedding")
    pb.add_argument("-m", type=int, default=4, help="subspaces")
    pb.add_argument("-k", type=int, default=16, help="codes per subspace")
    pb.add_argument("--n-iter", dest="n_iter", type=int, default=2)
    pb.add_argument("--prefix", default="pq")
    pb.add_argument("--cores", default=None)
    pb.set_defaults(fn=cmd_pq_build)

    ps = sub.add_parser("pq-search", help="ADC top-k search against a "
                                          "persisted PQ index")
    ps.add_argument("--queries", required=True, help="query vectors parquet")
    ps.add_argument("--store", required=True)
    ps.add_argument("--output", required=True)
    ps.add_argument("--id-col", dest="id_col", default="vec_id")
    ps.add_argument("--vec-col", dest="vec_col", default="embedding")
    ps.add_argument("--topk", type=int, default=10)
    ps.add_argument("--prefix", default="pq")
    ps.add_argument("--cores", default=None)
    ps.set_defaults(fn=cmd_pq_search)

    args = ap.parse_args(argv)
    args.fn(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
