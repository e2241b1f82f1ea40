"""Checkpointed, resumable partitioned runs — lineage + row-count metrics.

The reference resumes by scanning for existing output files
(`geoEpic/sites/generate.py:97-98`, `soil/ssurgo_gdb.py:129-130`,
`weather/nldas_ws_gee.py:108-122`) and retries failures ad hoc. Here the unit
of resume is a *logical partition* (any key column): a manifest Parquet table
records (partition_id, rows_in, rows_out, checksum, run_id, ts); pending work
is ``all_partitions LEFT ANTI manifest``; output is written partitioned by the
key so re-runs are idempotent per-partition overwrites.

At cluster scale the same manifest lives next to the Iceberg table. The
anti-join itself is metadata-sized (one row per partition), but the joins
around it are not: the pending keys are joined back against the whole work
table and against the whole re-read output.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = "partition_id string, rows_in long, rows_out long, checksum long, run_id string"
METRICS_SCHEMA = "run_id string, stage string, metric string, value long"


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    if os.path.isdir(manifest_path) and any(
        f.endswith(".parquet") for f in os.listdir(manifest_path)
    ):
        return spark.read.parquet(manifest_path)
    return spark.createDataFrame([], MANIFEST_SCHEMA)


def pending_partitions(
    spark: SparkSession, work: DataFrame, part_col: str, manifest_path: str
) -> DataFrame:
    """Distinct partition keys with no manifest entry (skip-existing)."""
    done = read_manifest(spark, manifest_path).select(
        F.col("partition_id").alias(part_col)
    )
    return (
        work.select(F.col(part_col).cast("string").alias(part_col))
        .distinct()
        .join(done, on=part_col, how="left_anti")
    )


def run_with_resume(
    spark: SparkSession,
    work: DataFrame,
    part_col: str,
    process: Callable[[DataFrame], DataFrame],
    out_path: str,
    manifest_path: str,
    run_id: str | None = None,
    metrics_path: str | None = None,
) -> dict:
    """Process only the partitions absent from the manifest; append output
    (partitioned by key) + manifest rows with per-partition lineage metrics.

    Row counts come from one aggregate over the output (no observe/collect
    per partition); checksum is the bitwise XOR of xxhash64 over all output
    columns — cheap, order-insensitive, catches content drift.

    In-flight stage metrics (the reference DataLogger analog,
    `io/data_logger.py:298-380`): ``observe()`` nodes on the input and
    output streams capture rows/checksum DURING the output write job — zero
    extra actions, unlike the per-partition manifest aggregates. They are
    returned under ``"observed"`` and, when ``metrics_path`` is given,
    appended as (run_id, stage, metric, value) rows — the `@logger` routine
    metrics table a reference user expects."""
    run_id = run_id or uuid.uuid4().hex[:12]
    pend = pending_partitions(spark, work, part_col, manifest_path)
    todo = work.join(
        pend.withColumnRenamed(part_col, "__p"),
        on=work[part_col].cast("string") == F.col("__p"),
        how="inner",
    ).drop("__p")
    n_pending = pend.count()
    if n_pending == 0:
        return {"run_id": run_id, "partitions": 0, "rows_out": 0, "observed": {}}

    obs_in = Observation()
    todo = todo.observe(obs_in, F.count(F.lit(1)).alias("rows"))
    in_counts = todo.groupBy(F.col(part_col).cast("string").alias("partition_id")).agg(
        F.count(F.lit(1)).alias("rows_in")
    )
    result = process(todo)
    obs_out = Observation()
    result = result.observe(
        obs_out,
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*result.columns)).alias("checksum"),
    )
    # dynamic partition overwrite: only the pending partitions are replaced,
    # so re-runs are idempotent (no duplicate rows on recompute)
    (
        result.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(out_path)
    )
    observed = {
        "input_rows": int(obs_in.get["rows"]),
        "output_rows": int(obs_out.get["rows"]),
        "output_checksum": int(obs_out.get["checksum"] or 0),
    }
    if metrics_path:
        spark.createDataFrame(
            [
                (run_id, "input", "rows", observed["input_rows"]),
                (run_id, "output", "rows", observed["output_rows"]),
                (run_id, "output", "checksum", observed["output_checksum"]),
            ],
            METRICS_SCHEMA,
        ).write.mode("append").parquet(metrics_path)
    written = spark.read.parquet(out_path).join(
        pend.withColumnRenamed(part_col, "__p"),
        on=F.col(part_col).cast("string") == F.col("__p"),
        how="inner",
    ).drop("__p")
    out_stats = written.groupBy(F.col(part_col).cast("string").alias("partition_id")).agg(
        F.count(F.lit(1)).alias("rows_out"),
        # order-insensitive content checksum; xor avoids int64 sum overflow
        F.bit_xor(F.xxhash64(*[c for c in written.columns if c != part_col])).alias("checksum"),
    )
    # at most one row per pending partition: collect once, so the write and
    # the rows_out total do not each re-run the joins above
    manifest = (
        in_counts.join(out_stats, on="partition_id", how="left")
        .na.fill({"rows_out": 0, "checksum": 0})
        .withColumn("run_id", F.lit(run_id))
        .collect()
    )
    spark.createDataFrame(manifest, MANIFEST_SCHEMA).write.mode("append").parquet(
        manifest_path
    )
    return {
        "run_id": run_id,
        "partitions": n_pending,
        "rows_out": sum(r["rows_out"] for r in manifest),
        "observed": observed,
    }


def invalidate_partitions(
    spark: SparkSession, manifest_path: str, partition_ids: list[str]
) -> None:
    """Drop manifest rows for the given partitions so the next run recomputes
    exactly those (the re-run primitive the resume test exercises)."""
    m = read_manifest(spark, manifest_path)
    # eager localCheckpoint (not cache+count): severs lineage so the
    # overwrite below can't recompute from the file it is replacing even if
    # blocks were evicted, and the checkpoint blocks are freed by the
    # ContextCleaner when `kept` is GC'd — no session-lifetime storage leak
    kept = m.filter(~F.col("partition_id").isin(partition_ids)).localCheckpoint()
    kept.write.mode("overwrite").parquet(manifest_path)
