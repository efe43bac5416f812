"""Per-stage checkpoint store with a resume manifest.

The reference pipeline is resumable at script granularity because every
script writes CSVs that the next script re-reads (e.g.
processed_code/extract_ingredient.py:225-229 write-then-reread;
merge_tcm_symptom.py:143-172). We reproduce that contract as parquet stage
tables plus a JSON manifest: a stage whose manifest entry exists AND whose
parquet is readable is skipped on re-run (kill-and-resume safe, idempotent).

Stages are always parquet plus an atomic manifest rename. Iceberg tables
(atomic commits, snapshot lineage) would replace that pair on a cluster
with the Iceberg runtime; no Iceberg writer exists here.

A partitioned stage write is rebalanced by its partition columns first
(the REBALANCE hint): AQE merges small shuffle partitions until each key's
rows sit in about one task, and splits a skewed key into advisory-size
pieces. Without it every writing task emits one file per key it holds, so
a stage of T tasks x K keys fans out into up to T*K tiny files that every
later read lists and opens.

Several stores may share one root (e.g. the gazetteer canon cache used by
concurrent processes): each write re-reads the manifest and merges its own
entry under an exclusive file lock, so a writer never drops an entry that
another store committed after this one was constructed.
"""

from __future__ import annotations

import fcntl
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class CheckpointStore:
    root: str
    manifest: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        mf = self._manifest_path()
        if os.path.exists(mf):
            with open(mf) as f:
                self.manifest = json.load(f)

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_MANIFEST.json")

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def has(self, stage: str) -> bool:
        return (
            stage in self.manifest
            and os.path.exists(os.path.join(self._stage_path(stage), "_SUCCESS"))
        )

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(self._stage_path(stage))

    def write(
        self,
        df: DataFrame,
        stage: str,
        partition_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> None:
        """`meta`: JSON-able facts about HOW the stage table was built
        (e.g. the minhash banding of a signature index) — recorded in the
        manifest entry so readers can validate compatibility instead of
        silently consuming an index built under different parameters."""
        w = df.write
        if partition_by:
            w = df.hint("rebalance", *partition_by).write.partitionBy(*partition_by)
        w.mode("overwrite").parquet(self._stage_path(stage))
        entry = {"completed_at": time.time(), **(meta or {})}
        mf = self._manifest_path()
        with open(mf + ".lock", "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if os.path.exists(mf):
                with open(mf) as f:
                    self.manifest = json.load(f)
            self.manifest[stage] = entry
            tmp = mf + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.manifest, f, indent=2)
            os.replace(tmp, mf)  # atomic manifest commit

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        compute,
        partition_by: list[str] | None = None,
        expect_cols: list[str] | None = None,
    ) -> DataFrame:
        """Compute-or-resume: returns the stage DataFrame either way.

        `expect_cols` guards schema evolution: a stage table written by an
        older code version that lacks any expected column is recomputed
        instead of resumed (otherwise downstream references to the new
        columns fail — or worse, silently disappear from derived metrics)."""
        if self.has(stage):
            df = self.read(spark, stage)
            if not expect_cols or set(expect_cols) <= set(df.columns):
                return df
        df = compute()
        self.write(df, stage, partition_by)
        return self.read(spark, stage)
