"""L1 — per-partition lineage rows + per-epoch metrics (SURVEY.md §2.1 L1).

Lineage: one row per (epoch, stage, spark partition) with the row count that
partition produced, plus the input/output snapshot ids — enough to audit
which physical partition contributed what to each committed epoch
(BASELINE.json:14 "per-partition lineage rows and metrics").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_lineage(
    df: DataFrame, epoch: int, stage: str, input_snapshot: str, output_snapshot: str
) -> DataFrame:
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows_out"))
        .select(
            F.lit(epoch).cast("int").alias("epoch"),
            F.lit(stage).alias("stage"),
            F.col("partition_id").cast("int"),
            F.col("rows_out").cast("long"),
            F.lit(input_snapshot).alias("input_snapshot"),
            F.lit(output_snapshot).alias("output_snapshot"),
        )
    )


def write_metrics_parquet(path: str, epoch: int, values: dict[str, float]) -> None:
    """Driver-side metrics append — pyarrow write, zero Spark jobs (the
    metrics are already Python scalars).  Schema mirrors
    engine.schemas.METRICS."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = sorted(values)
    table = pa.table(
        {
            "epoch": pa.array([epoch] * len(keys), pa.int32()),
            "key": pa.array(keys, pa.string()),
            "value": pa.array([float(values[k]) for k in keys], pa.float64()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
