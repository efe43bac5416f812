"""Per-stage checkpoint store with a resume manifest.

The reference pipeline is resumable at script granularity because every
script writes CSVs that the next script re-reads (e.g.
processed_code/extract_ingredient.py:225-229 write-then-reread;
merge_tcm_symptom.py:143-172). We reproduce that contract as parquet stage
tables plus a JSON manifest: a stage whose manifest entry exists AND whose
parquet is readable is skipped on re-run (kill-and-resume safe, idempotent).

This store is the only code that publishes resumable state. `write` runs
the Spark write into a hidden temp dir under the root
(`.<stage>.tmp-<uuid>`; partition discovery skips dot-names); `publish`
then, under the root's file lock, moves any old stage dir aside, renames
the temp dir into place, merges the stage's entry into the re-read
manifest and deletes the old dir. A failure or kill before the publish
leaves no visible stage, and concurrent writers (processes included) never
drop each other's entries. Iceberg tables would replace all this on a
cluster with the Iceberg runtime; no Iceberg writer exists here.

The manifest entry carries the stage's schema as parquet stores it (every
field nullable; partition columns left to path discovery, which runs no
job). `read` hands it to `spark.read.schema`, so a stage read never runs
the footer-sampling inference job. Entries without a schema (written by
an older version) still read by inference.

Stages named `<col>=<value>` form one partitioned table of the root;
`partitions(col)` lists its committed values and `read_committed(col)`
reads exactly those, with `col` typed string. A stage dir that a crash
left renamed into place but without a manifest entry is invisible to it,
where a whole-root `spark.read.parquet` would include it.

A partitioned stage write is rebalanced by its partition columns first
(the REBALANCE hint): AQE merges small shuffle partitions until each key's
rows sit in about one task, and splits a skewed key into advisory-size
pieces. Without it every writing task emits one file per key it holds, so
a stage of T tasks x K keys fans out into up to T*K tiny files that every
later read lists and opens.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _nullable(t):
    """A schema's JSON form with every field, element and value nullable:
    what a parquet read reports for whatever schema was written."""
    if isinstance(t, dict):
        return {
            k: True if k in ("nullable", "containsNull", "valueContainsNull") else _nullable(v)
            for k, v in t.items()
        }
    if isinstance(t, list):
        return [_nullable(v) for v in t]
    return t


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

    def partitions(self, col: str) -> dict[str, dict]:
        """Manifest entries of the committed `<col>=<value>` stages, by value."""
        p = col + "="
        return {s[len(p):]: e for s, e in self.manifest.items() if s.startswith(p)}

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        schema = self.manifest.get(stage, {}).get("schema")
        r = spark.read if schema is None else spark.read.schema(T.StructType.fromJson(schema))
        return r.parquet(self._stage_path(stage))

    def read_committed(self, spark: SparkSession, col: str) -> DataFrame:
        """The committed `<col>=<value>` stages as one table of the root,
        `col` typed string (an all-digit value keeps its leading zeros).
        Needs at least one committed stage: its schema is the table's."""
        parts = self.partitions(col)
        if not parts:
            raise FileNotFoundError(f"no committed {col}= stage under {self.root}")
        stage = self.read(spark, f"{col}={next(iter(parts))}").schema
        schema = T.StructType(stage.fields + [T.StructField(col, T.StringType())])
        return (
            spark.read.schema(schema).parquet(self.root)
            .filter(F.col(col).isin(list(parts)))
        )

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
        tmp = os.path.join(self.root, f".{stage}.tmp-{uuid.uuid4().hex}")
        w = df.write
        if partition_by:
            w = df.hint("rebalance", *partition_by).write.partitionBy(*partition_by)
        schema = _nullable(df.drop(*(partition_by or [])).schema.jsonValue())
        try:
            w.parquet(tmp)
            self.publish(tmp, stage, {"schema": schema, **(meta or {})})
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise

    def publish(self, tmp: str, stage: str, meta: dict | None = None) -> None:
        """Commit the finished stage dir `tmp` (under `root`) as `stage`.
        Spark-free: two renames and a manifest merge under the root's lock,
        so concurrent processes publishing into one root serialize here."""
        dst = self._stage_path(stage)
        old = os.path.join(self.root, f".{stage}.old-{uuid.uuid4().hex}")
        with self._manifest_lock():
            if os.path.exists(dst):
                os.rename(dst, old)
            os.rename(tmp, dst)
            self.manifest[stage] = {"completed_at": time.time(), **(meta or {})}
        shutil.rmtree(old, ignore_errors=True)

    def clear(self) -> None:
        """Unpublish every stage the manifest lists (a new lineage over the
        same root). Dirs the store did not publish are left alone."""
        with self._manifest_lock():
            stages, self.manifest = list(self.manifest), {}
        for stage in stages:
            shutil.rmtree(self._stage_path(stage), ignore_errors=True)

    @contextmanager
    def _manifest_lock(self):
        """Lock the root, re-read the manifest, write it back on clean exit."""
        mf = self._manifest_path()
        with open(mf + ".lock", "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if os.path.exists(mf):
                with open(mf) as f:
                    self.manifest = json.load(f)
            yield
            tmp = mf + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.manifest, f, indent=2)
            os.replace(tmp, mf)

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
