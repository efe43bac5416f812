"""Spans recorded from outside the program, around calls into its layers.

A span is (name, start, end, parent, trace id). While a span is the
innermost open one, every Spark job it triggers runs under its own job
group; when the span closes, the jobs, tasks, shuffle bytes and executor
run time of that group are read at once from the driver's status store
(it keeps only the last `spark.ui.retainedStages` stages). Counters are
therefore the span's own (self) counters; `self_times` derives self wall
time. Spans stay in memory until `dump`.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

COUNTERS = (
    "wall_s",
    "jobs",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "executor_run_s",
    "rows_out",
)

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    """Collects spans; `spark=None` records wall time and rows only."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.trace_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # derived ratios recorded at layer boundaries, and whether every
        # output checked during the traced run matched its oracle
        self.ratios: dict[str, float] = {}
        self.ok = True

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "trace_id": self.trace_id,
            "rows_out": 0,
        }
        self.spans.append(rec)
        group = f"perfbench-{self.trace_id}-{rec['id']}"
        self._set_group(group)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(
                f"perfbench-{self.trace_id}-{self._stack[-1]['id']}"
                if self._stack else None
            )
            rec.update(self._job_counters(group))

    def _set_group(self, group: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(_JOB_GROUP, group)

    def _job_counters(self, group: str) -> dict:
        if self.spark is None:
            return {}
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # status store is fed asynchronously
        store = jsc.statusStore()
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            seq = store.job(jid).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        out = {"jobs": len(job_ids), "tasks": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "executor_run_s": 0.0}
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted or never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["tasks"] += st.numTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, f, indent=1)


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> its duration minus the part covered by its children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_totals(spans: list[dict], layers: list[str]) -> dict[str, float]:
    """'<layer>.<counter>' -> sum over that layer's spans; wall_s is self
    time. Layers the run did not reach report 0."""
    selft = self_times(spans)
    out = {f"{layer}.{c}": 0.0 for layer in layers for c in COUNTERS}
    for s in spans:
        if s["name"] not in layers:
            continue
        out[f"{s['name']}.wall_s"] += selft[s["id"]]
        for c in COUNTERS[1:]:
            out[f"{s['name']}.{c}"] += s.get(c, 0)
    return out
