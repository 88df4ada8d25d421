"""Streaming DimApp: broadcast-config routing inside foreachBatch (J10).

The reference connects a broadcast config stream to the main CDC stream and
routes per-record (RT/app/dim/DimApp.java:90-97). In Structured Streaming
the natural equivalent is ``foreachBatch``: per micro-batch the (tiny)
config is re-read driver-side — picking up config changes between batches,
like the broadcast state — and each configured dim table gets a MERGE of
the batch's routed slice (keyed last-writer-wins, replacing Phoenix
UPSERT + Redis invalidation, RT/app/func/DimSinkFunction.java:28-50).

Every MERGE here is BUCKET-SCOPED: dim tables are stored partitioned by
``__bucket = hash(pk) % N`` (the bucketing of :mod:`.upsert_table`) and a
micro-batch reads + rewrites only the buckets its keys hash into — merge
cost per batch tracks the batch's key footprint, not table size, the shape
a Phoenix UPSERT actually has (region-server point writes, never a table
rewrite).

Unlike the upsert table, these tables rewrite their bucket dirs IN PLACE
(dynamic partitionOverwriteMode) instead of committing a manifest over
immutable generations, so a reader that lists a touched bucket during the
overwrite can see it torn. The contract is single writer, read between
commits.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import keep_latest
from ..plans.dim import DIM_CONFIG, TableProcess
from .upsert_table import N_UPSERT_BUCKETS, bucket_of


def _touched_buckets(df: DataFrame) -> list[int]:
    """Bounded collect: <= N_UPSERT_BUCKETS ints."""
    return [r[0] for r in df.select("__bucket").distinct().collect()]


def _overwrite_buckets(merged: DataFrame, path: str) -> None:
    """Rewrite ONLY the bucket partition dirs present in ``merged``
    (dynamic partition overwrite); untouched dirs keep their bytes.
    localCheckpoint materializes first — Spark refuses a lazy plan that
    reads the path it is overwriting."""
    (
        merged.localCheckpoint()
        .repartition(F.col("__bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket")
        .parquet(path)
    )


def dim_router(
    out_dir: str,
    config_provider: Callable[[int], list[TableProcess]] | None = None,
):
    """foreachBatch function: route the micro-batch into per-dim parquet
    tables under ``out_dir`` (created on first write, like the reference's
    runtime checkTable DDL, RT/app/func/TableProcessFunction.java:84-106).

    ``config_provider(batch_id)`` is re-read per micro-batch — the broadcast
    config state. A config row that GROWS its sinkColumns between batches is
    the reference's runtime ALTER TABLE / dynamic-column-add path
    (TableProcessFunction.java:84-106 re-issues DDL when the config record
    changes): here the stored bucket slice and the newly-routed slice are
    schema-merged (``mergeSchema`` read + ``unionByName(allowMissingColumns
    =True)``), so rows upserted before the change carry NULL in the new
    column until their next CDC update — exactly Phoenix's
    ALTER-then-UPSERT semantics. Untouched buckets keep their old file
    schema until their keys next update, which is why readers go through
    :func:`read_dim_table` (mergeSchema).
    """

    provider = config_provider or (lambda _batch_id: DIM_CONFIG)

    def fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.persist()
        try:
            for cfg in provider(batch_id):  # per-batch re-read (broadcast state)
                routed = batch.filter(F.col("table") == cfg.source_table).select(
                    *[F.col("data").getItem(c).alias(c) for c in cfg.columns],
                    F.col("ts").cast("long").alias("__ts"),
                    F.when(F.col("type") == "update", 1).otherwise(0).alias("__upd"),
                    F.lit(batch_id + 1).alias("__gen"),
                ).withColumn("__bucket", bucket_of([cfg.sink_pk]))
                path = os.path.join(out_dir, cfg.sink_table)
                if os.path.exists(path):
                    touched = _touched_buckets(routed)
                    if not touched:
                        continue
                    current = (
                        spark.read.option("mergeSchema", "true")
                        .parquet(path)
                        .filter(F.col("__bucket").isin(touched))
                        .withColumn("__ts", F.lit(None).cast("long"))
                        .withColumn("__upd", F.lit(None).cast("int"))
                        .withColumn("__gen", F.lit(0))
                    )
                    # A stored row has already won its in-batch contest; its
                    # __ts is unknown post-projection, so order by generation
                    # first (newer batches win), then __ts/__upd in-batch.
                    # allowMissingColumns = the runtime schema merge: a column
                    # added (or dropped) by a config change nulls out on the
                    # side that lacks it instead of failing the stream.
                    merged = keep_latest(
                        current.unionByName(routed, allowMissingColumns=True),
                        [cfg.sink_pk],
                        ["__gen", "__ts", "__upd"],
                    )
                else:
                    merged = keep_latest(routed, [cfg.sink_pk], ["__ts", "__upd"])
                _overwrite_buckets(merged.drop("__ts", "__upd", "__gen"), path)
        finally:
            batch.unpersist()

    return fn


def read_dim_table(spark, out_dir: str, sink_table: str) -> DataFrame:
    """Read a routed dim table back without the internal bucket column
    (mergeSchema: buckets rewritten after a config column-add carry the
    widened schema; untouched ones don't yet)."""
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(out_dir, sink_table))
        .drop("__bucket")
    )


def scd2_sink(out_dir: str, cfg: TableProcess):
    """foreachBatch function maintaining an SCD TYPE-2 history table
    incrementally: each micro-batch appends the batch's CDC records as new
    versions and re-derives (version, end_ts, is_current) ONLY for the pks
    the batch touched — untouched keys pass through with their stored
    intervals, so the per-batch window recompute is proportional to the
    batch's key set, not the table (the two-statement MERGE shape of a
    Delta SCD2 pipeline). Storage is bucket-partitioned like
    :func:`dim_router`: only buckets containing touched pks are read or
    rewritten, so both the recompute AND the IO are O(batch keys).

    Idempotent under redelivery: versions are keyed by (pk, start_ts), so
    a replayed micro-batch (checkpoint recovery) dedups to a no-op.
    """
    from pyspark.sql import Window

    def fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        routed = batch.filter(F.col("table") == cfg.source_table).select(
            *[F.col("data").getItem(c).alias(c) for c in cfg.columns],
            F.col("ts").cast("long").alias("start_ts"),
        ).withColumn("__bucket", bucket_of([cfg.sink_pk]))
        if not routed.take(1):
            return
        path = os.path.join(out_dir, cfg.sink_table + "_scd2")
        pk = cfg.sink_pk
        keys = routed.select(pk).distinct()
        if os.path.exists(path):
            touched = _touched_buckets(routed)
            stored = (
                spark.read.parquet(path)
                .filter(F.col("__bucket").isin(touched))
            )
            # Same-bucket keys the batch did NOT touch pass through with
            # their stored intervals (they share a partition dir with a
            # touched key, so their bytes are rewritten but never
            # recomputed); other buckets are never read.
            untouched = stored.join(keys, pk, "left_anti")
            affected = stored.join(F.broadcast(keys), pk, "left_semi").select(
                *cfg.columns, "start_ts", "__bucket"
            )
            versions = affected.unionByName(routed)
        else:
            untouched = None
            versions = routed
        w = Window.partitionBy(pk).orderBy("start_ts")
        recomputed = versions.dropDuplicates([pk, "start_ts"]).select(
            *cfg.columns,
            F.row_number().over(w).alias("version"),
            "start_ts",
            F.lead("start_ts").over(w).alias("end_ts"),
            F.lead("start_ts").over(w).isNull().cast("int").alias("is_current"),
            "__bucket",
        )
        merged = (
            untouched.unionByName(recomputed) if untouched is not None else recomputed
        )
        _overwrite_buckets(merged, path)

    return fn
