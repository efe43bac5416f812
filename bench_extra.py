"""Round-6 optimization harness (guide §1): noop-sink isolation + plan
capture for every bench query, separate from the FROZEN bench.py.

Usage:
  python bench_extra.py time   [sf_dir] [query ...]   # noop-sink wall times
  python bench_extra.py plans  [sf_dir] out_dir [query ...]  # explain('formatted')
  python bench_extra.py kg     [sf_dir]               # stagewise kg-leg profile

Timing methodology: each query materializes through the noop sink
(df.write.format('noop')) so the computation is timed, not the sink; jobs
are labelled with setJobDescription. Unlike bench.py's .count() (which the
optimizer can prune), noop computes every column — so absolute numbers here
are upper bounds on the bench's per-query cost, comparable before/after a
change but not 1:1 with bench.py numbers.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR_DEFAULT = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))


def _spark():
    from tcmkg.session import get_spark

    return get_spark("tcmkg-bench-extra", cores=CPUS)


def _bench_query_fns(spark, sf_dir, names=None):
    """Query thunks by name. The KG pipeline and the bench corpus are built
    only when `names` (None: every query) asks for a kg_* query."""
    from tcmkg.contract.generic import (
        q_ann_pq,
        q_ann_topk,
        q_dedup_exact,
        q_dim_join_revenue,
        q_lsh_pairs,
        q_minhash_sigs,
        q_near_dedup,
        q_pii,
        q_repetition,
        q_sessionize,
        q_simhash_pairs,
        q_tpch_q1,
    )

    kg = {}
    if names is None or any(n.startswith("kg_") for n in names):
        import bench
        from tcmkg.contract.kg import _pipeline, transcriptize

        pipe = _pipeline(spark)
        corpus = spark.read.parquet(bench.bench_corpus_path())
        kg = {
            "kg_triples_events": lambda: pipe.triples(transcriptize(spark, sf_dir)),
            "kg_triples_corpus": lambda: pipe.triples(corpus),
        }
    return {
        **kg,
        "q_tpch_q1": lambda: q_tpch_q1(spark, sf_dir),
        "q_dim_join_revenue": lambda: q_dim_join_revenue(spark, sf_dir),
        "q_dedup_exact": lambda: q_dedup_exact(spark, sf_dir),
        "q_minhash_sigs": lambda: q_minhash_sigs(spark, sf_dir),
        "q_sessionize": lambda: q_sessionize(spark, sf_dir),
        "q_ann_topk": lambda: q_ann_topk(spark, sf_dir),
        "q_lsh_pairs": lambda: q_lsh_pairs(spark, sf_dir),
        "q_simhash_pairs": lambda: q_simhash_pairs(spark, sf_dir),
        "q_near_dedup": lambda: q_near_dedup(spark, sf_dir),
        "q_repetition": lambda: q_repetition(spark, sf_dir),
        "q_pii": lambda: q_pii(spark, sf_dir),
        "q_ann_pq": lambda: q_ann_pq(spark, sf_dir),
    }


def cmd_time(sf_dir: str, only: list[str]) -> None:
    spark = _spark()
    fns = _bench_query_fns(spark, sf_dir, only or None)
    names = only or list(fns)
    # warmup: absorb JVM/codegen/python-worker spin-up (bench.py does the same)
    fns["q_tpch_q1"]().write.format("noop").mode("overwrite").save()
    out = {}
    for rnd in range(2):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            fns[name]().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            out.setdefault(name, []).append(dt)
            spark.sparkContext.setJobDescription(None)
    for name in names:
        s = out[name]
        print(f"{name:22s} min={min(s):7.3f}  samples={[round(x,3) for x in s]}")


def cmd_plans(sf_dir: str, out_dir: str, only: list[str]) -> None:
    spark = _spark()
    os.makedirs(out_dir, exist_ok=True)
    fns = _bench_query_fns(spark, sf_dir, only or None)
    for name in only or list(fns):
        df = fns[name]()
        p = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        suffix = os.environ.get("TCMKG_PLAN_SUFFIX", "")
        path = os.path.join(out_dir, f"{name}{suffix}.txt")
        with open(path, "w") as f:
            f.write(p)
        print(f"wrote {path} ({len(p)} bytes)")


def cmd_kg(sf_dir: str) -> None:
    """Stagewise profile of the kg_triples leg: planning vs execution."""
    from pyspark.sql import functions as F

    spark = _spark()
    from tcmkg.contract.kg import _pipeline, transcriptize
    from tcmkg.pipeline.extract import extract_mentions, ingest, resolve_anchors, rule_prefilter
    from tcmkg.pipeline.triples import assemble_triples

    pipe = _pipeline(spark)
    # warmup
    import bench

    corpus = spark.read.parquet(bench.bench_corpus_path())
    pipe.triples(corpus.limit(2000)).count()

    for leg, src in (("events", lambda: transcriptize(spark, sf_dir)),
                     ("corpus", lambda: corpus)):
        print(f"--- leg: {leg} ---")
        t0 = time.time()
        tr = src()
        turns = ingest(tr)
        resolved = resolve_anchors(turns, pipe.formula_alias)
        pre = rule_prefilter(resolved)
        t_build = time.time() - t0
        spark.sparkContext.setJobDescription(f"kgprof:{leg}:prefilter")
        t0 = time.time()
        pre.write.format("noop").mode("overwrite").save()
        t_pre = time.time() - t0
        spark.sparkContext.setJobDescription(f"kgprof:{leg}:mentions")
        t0 = time.time()
        mentions = extract_mentions(spark, pre, pipe.maps, cache_key=pipe._cache_key)
        mentions.write.format("noop").mode("overwrite").save()
        t_men = time.time() - t0
        # mention materialization the way triples() does it
        spark.sparkContext.setJobDescription(f"kgprof:{leg}:mentions_mat")
        t0 = time.time()
        m2 = extract_mentions(spark, pre, pipe.maps, cache_key=pipe._cache_key).persist()
        n_m = m2.count()
        t_mat = time.time() - t0
        spark.sparkContext.setJobDescription(f"kgprof:{leg}:assemble_plan")
        t0 = time.time()
        tri = assemble_triples(m2)
        t_plan_build = time.time() - t0
        spark.sparkContext.setJobDescription(f"kgprof:{leg}:assemble_exec")
        t0 = time.time()
        n_t = tri.count()
        t_asm = time.time() - t0
        # second assemble+count over the SAME cached mentions: isolates
        # per-call planning+exec cost with data already cached
        spark.sparkContext.setJobDescription(f"kgprof:{leg}:assemble2")
        t0 = time.time()
        n_t2 = assemble_triples(m2).count()
        t_asm2 = time.time() - t0
        m2.unpersist()
        spark.sparkContext.setJobDescription(None)
        print(
            f"build_dfs={t_build:6.3f} prefilter_noop={t_pre:6.3f} "
            f"mentions_noop={t_men:6.3f} mentions_mat={t_mat:6.3f} (rows={n_m}) "
            f"assemble_build={t_plan_build:6.3f} assemble_count={t_asm:6.3f} "
            f"assemble2_count={t_asm2:6.3f} (triples={n_t}/{n_t2})"
        )


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "time":
        sf = sys.argv[2] if len(sys.argv) > 2 else SF_DIR_DEFAULT
        cmd_time(sf, sys.argv[3:])
    elif cmd == "plans":
        sf = sys.argv[2] if len(sys.argv) > 2 else SF_DIR_DEFAULT
        out = sys.argv[3] if len(sys.argv) > 3 else "plans/r06"
        cmd_plans(sf, out, sys.argv[4:])
    elif cmd == "kg":
        sf = sys.argv[2] if len(sys.argv) > 2 else SF_DIR_DEFAULT
        cmd_kg(sf)
    else:
        raise SystemExit(f"unknown command {cmd!r}")


if __name__ == "__main__":
    main()
