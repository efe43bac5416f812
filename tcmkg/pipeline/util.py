"""Engine utilities: driver-side constant tables, scalable deterministic
ranking, distinct counts per group."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(spark: SparkSession, rows: list, schema: str | T.StructType) -> DataFrame:
    """A constant table built on the driver (rows: dicts, or tuples in
    schema order) as a JVM-local relation. The rows cross to the JVM once
    as Arrow batches, so a scan of the frame is a LocalTableScan. A plain
    `spark.createDataFrame(list)` instead gives a LogicalRDD of pickled
    rows, and every scan of it starts Python tasks to re-serialize them."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    recs = [r if isinstance(r, dict) else dict(zip(schema.names, r)) for r in rows]
    return spark.createDataFrame(pa.Table.from_pylist(recs, to_arrow_schema(schema)), schema)


def stable_rank(df: DataFrame, order_col: str, rank_col: str = "rank",
                num_partitions: int | None = None) -> DataFrame:
    """Deterministic 0-based dense rank by `order_col` WITHOUT a global
    single-partition window.

    The naive `row_number().over(Window.orderBy(c))` collapses the whole
    table into one task — fine for dimension tables, fatal at fact scale.
    This is the two-pass formulation: range-partition by the order column,
    count rows per partition, broadcast the tiny offset table, then add a
    per-partition row_number. Used for surrogate-ID assignment (SURVEY.md
    §1.3: reference IDs are row indices after merge, e.g.
    processed_code/extract_herb.py:447-449 — determinism is load-bearing).

    `order_col` values must be unique (they are: component representatives).
    """
    if num_partitions is None:
        num_partitions = max(1, df.sparkSession.sparkContext.defaultParallelism)
    parts = df.repartitionByRange(num_partitions, F.col(order_col))
    # pin the partitioning: range sampling must not re-run differently
    # between the offset action and the final query
    parts = parts.withColumn("_pid", F.spark_partition_id()).localCheckpoint()
    counts = (
        parts.groupBy("_pid").count().orderBy("_pid").collect()
    )
    offsets = {}
    acc = 0
    for r in counts:
        offsets[r["_pid"]] = acc
        acc += r["count"]
    offs = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("_pid").orderBy(order_col)
    return (
        parts.withColumn(
            rank_col,
            (F.row_number().over(w) - 1 + offs[F.col("_pid")]).cast("long"),
        )
        .drop("_pid")
    )


def salted_distinct_count(df: DataFrame, group_cols: list[str], distinct_col: str,
                          out_col: str = "n_distinct") -> DataFrame:
    """Exact distinct count per group without a skewed single-reducer
    expand: dedup (group, value) pairs first (map-side combinable), then a
    plain count — the formulation used for the degree cap
    (reference: merge_tcm_symptom.py:289-294)."""
    return (
        df.select(*group_cols, distinct_col)
        .dropDuplicates([*group_cols, distinct_col])
        .groupBy(*group_cols)
        .agg(F.count("*").cast("long").alias(out_col))
    )
