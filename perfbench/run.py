"""KG-construction benchmark: one workload per invocation.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. All state lives under `.perfbench_state/`
there: a shared gazetteer canon cache (keyed by the program's own
content+code fingerprint) and one private work dir per run, which is the
run's cwd, temp dir, Spark local dir, warehouse, checkpoint, landing and
export root, and is deleted at exit.

The last stdout line is the result JSON; the line before it holds run
details (session facts, per-op times, drift slope). See README.md.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()

CORES = 4
DRIVER_MEM = "4g"  # fits a 15 GB host; the program's 24g default does not
SETUP_REPS = 3
MAX_OPS = 200

LAYERS = [
    "session", "runner.init", "canonicalize", "cc.connected_components",
    "checkpoints.write", "checkpoints.read", "extract.ingest",
    "extract.resolve_anchors", "extract.rule_prefilter",
    "extract.extract_mentions", "triples.assemble_triples", "export",
    "runner.run_incremental", "dedup.minhash_signatures",
    "dedup.lsh_candidate_pairs", "dedup.pair_jaccard",
    "cc.connected_components_edges",
]
RATIOS = [
    "extract.rule_prefilter.pass_ratio",
    "extract.extract_mentions.partials_per_turn",
    "dedup.pair_jaccard.verified_ratio",
    "checkpoints.write.bytes_written",
]


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run dir before pyspark starts."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TCMKG_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata files in /tmp, from the launcher JVM or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.chdir(run_dir)


def _start_session(run_dir: str, trace: bool):
    import tcmkg.session as session

    # get_spark ships the package zip from a fixed /tmp path; keep it here
    session.package_zip = functools.partial(session.package_zip, dest_dir=run_dir)
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    if trace:
        conf["spark.ui.retainedJobs"] = conf["spark.ui.retainedStages"] = "100000"
    return session.get_spark("perfbench", cores=CORES, extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _slope(ys: list[float]) -> float:
    """Least-squares slope of op wall time against op index (s per op)."""
    if len(ys) < 2:
        return 0.0
    xs = range(len(ys))
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum((x - mx) ** 2 for x in xs)


def _attempt(wl, i: int, failures: list):
    try:
        return wl.op(i, warmup=False)
    except Exception:  # one failed op is counted, the run goes on
        traceback.print_exc()
        failures.append(i)
        return None


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tcmkg", "pipeline", "runner.py")):
        print("perfbench: run from a checkout root that holds the tcmkg package",
              file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".perfbench_state")
    run_dir = os.path.join(state, "runs", f"{os.getpid()}-{time.time_ns()}")
    session_facts = {
        "cores": CORES, "driver_mem": DRIVER_MEM, "nproc": os.cpu_count(),
        "loadavg_start": os.getloadavg(),
    }
    _isolate(run_dir)  # before any import that may cache the temp dir
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    spark = None
    try:
        import workloads
        from oracles import Score
        from tcmkg.fixtures.gazetteers import build_gazetteers
        from tcmkg.oracle.extractor import OracleExtractor
        from tracing import Tracer, layer_totals

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2

        tracer = Tracer()
        with tracer.span("session"):
            t0 = time.perf_counter()
            spark = _start_session(run_dir, bool(args.trace))
            session_s = time.perf_counter() - t0
        tracer.spark = spark if args.trace else None

        ctx = workloads.Context(spark, run_dir, os.path.join(state, "canon"), args.seed,
                                os.path.join(state, "oracle"))
        score = Score()
        wl = workloads.WORKLOADS[args.workload](ctx, score, OracleExtractor(build_gazetteers()))
        wl.prepare()
        if args.workload != "near_dedup":
            workloads.KGPipeline(spark, canon_dir=ctx.canon_dir)  # fill the canon cache, untimed

        setup_reps = []
        for _ in range(1 if args.trace else SETUP_REPS):
            with tracer.span("runner.init" if args.workload != "near_dedup" else "setup"):
                t0 = time.perf_counter()
                wl.setup()
                setup_reps.append(time.perf_counter() - t0)
        warmups = []
        for i in range(wl.warmup_ops):
            a = wl.op(i, warmup=True)
            warmups.append(a.op_s)

        failures: list[int] = []
        attempts = []
        measured = 0.0
        i = wl.warmup_ops
        while i < wl.warmup_ops + MAX_OPS:
            t0 = time.perf_counter()
            a = _attempt(wl, i, failures)
            took = a.busy_s if a is not None else time.perf_counter() - t0
            if a is not None:
                attempts.append(a)
            measured += took
            i += 1
            # stop once the measured time reaches --seconds
            if args.trace or measured >= args.seconds:
                break
        n_attempted = i - wl.warmup_ops
        failed = len(failures) + sum(1 for a in attempts if not a.ok)
        ok_attempts = [a for a in attempts if a.ok]
        if not ok_attempts:
            print("perfbench: no op succeeded", file=sys.stderr)
            return 1
        op_times = [a.op_s for a in ok_attempts]
        op_p50 = statistics.median(op_times)

        if args.trace:
            traced_s = wl.traced(tracer)
            n_attempted += 1
            failed += 0 if tracer.ok else 1
            tracer.ratios["session.jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
            tracer.ratios["trace.overhead_ratio"] = traced_s / op_p50
            os.makedirs(os.path.join(state, "traces"), exist_ok=True)
            tracer.dump(os.path.join(state, "traces", f"{args.workload}-seed{args.seed}.json"))
            metrics = {
                k: {"value": v, "unit": unit_of(k)}
                for k, v in layer_totals(tracer.spans, LAYERS).items()
            }
            for k in RATIOS + ["session.jvm_peak_rss_mb", "trace.overhead_ratio"]:
                metrics[k] = {"value": tracer.ratios.get(k, 0.0), "unit": unit_of(k)}
        else:
            items = statistics.fmean(a.items for a in ok_attempts)
            metrics = {
                "setup_s": {"value": session_s + statistics.median(setup_reps), "unit": "s"},
                "op_p50_s": {"value": op_p50, "unit": "s"},
                "items_per_s": {"value": items / op_p50, "unit": "1/s"},
                "resume_s": {"value": statistics.median(a.followup_s for a in ok_attempts),
                             "unit": "s"},
                "precision": {"value": score.precision, "unit": "ratio"},
                "recall": {"value": score.recall, "unit": "ratio"},
            }
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            **session_facts, "session_s": session_s, "setup_reps_s": setup_reps,
            "warmup_op_s": warmups, "op_s": op_times,
            "followup_s": [a.followup_reps or a.followup_s for a in ok_attempts],
            "drift_s_per_op": _slope(op_times), "weight_mismatches": score.mismatched,
        }
        correct = failed == 0 and score.precision == 1.0 and score.recall == 1.0
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": correct, "attempted": n_attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            _stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def unit_of(metric: str) -> str:
    if metric.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("jobs", "tasks", "rows_out")):
        return "count"
    if metric.endswith("partials_per_turn"):
        return "partials/turn"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
