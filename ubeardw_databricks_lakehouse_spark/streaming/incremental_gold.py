"""Incremental gold — streaming silver feeding trip_fact via foreachBatch.

The reference rebuilds gold daily from full silver (batch_job cron).
This extension closes the latency gap: each micro-batch of new
trip_events triggers a *recompute of only the touched trips* —

    micro-batch -> distinct trip_ids -> join back to full silver ->
    conditional-max pivot over those trips -> guarded MERGE

Recomputing the touched groups (not folding partial batches) is what
keeps the pivot's order-insensitivity intact: a trip whose events span
micro-batches always re-aggregates from its complete event set, so the
result equals the daily-batch answer at every point. The MERGE's
``updated_at`` guard (reference gold_pipeline.py:794) keeps stale
replays harmless.

Scale: per batch, work is proportional to touched trips, and the
join back to silver prunes on trip_id (partition/file pruning on a
trip-bucketed silver at cluster scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..core.catalog import GOLD_TABLES
from ..core.session import broadcast_gate
from ..pipelines.gold import build_trip_fact
from ..storage.lakehouse import Lakehouse


def start_incremental_trip_fact(
    spark: SparkSession,
    trip_events_stream: DataFrame,
    silver_trip_events_path: str,
    eater_silver: DataFrame,
    merchant_silver: DataFrame,
    dim_location: DataFrame,
    lake: Lakehouse,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the foreachBatch query maintaining ``trip_fact`` with the
    catalog's merge spec — the same one ``run_gold_job`` applies."""
    fact_spec = GOLD_TABLES["trip_fact"]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        touched = batch_df.select("trip_id").distinct()
        if touched.isEmpty():
            return
        full_events = spark.read.parquet(silver_trip_events_path)
        scoped = full_events.join(broadcast_gate(spark)(touched), "trip_id", "inner")
        fact = build_trip_fact(scoped, eater_silver, merchant_silver, dim_location)
        lake.upsert(
            "trip_fact",
            fact,
            keys=list(fact_spec.merge_keys),
            update_condition=fact_spec.merge_guard,
            partition_by=list(fact_spec.partition_by),
        )

    writer = (
        trip_events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_scd2(
    spark: SparkSession,
    entity_stream: DataFrame,
    lake: Lakehouse,
    table: str,
    business_keys: list[str],
    tracked_cols: list[str],
    ts_col: str = "cdc_timestamp",
    checkpoint: str = "",
    surrogate_name: str | None = "sk",
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous SCD2: each micro-batch of entity CDC rows folds into
    the dimension through the same ``apply_scd2`` engine the daily
    batch uses — history identical to batch at every quiescent point.

    Per batch: latest-wins per business key (a key changing twice
    within one micro-batch contributes its final state, matching the
    reference's daily-snapshot semantics), effective-dated at the
    batch's max CDC timestamp. Work per batch is O(changed keys):
    apply_scd2 short-circuits unchanged rows on row_hash.
    """
    from ..operators.scd2 import apply_scd2
    from pyspark.sql.window import Window

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = Window.partitionBy(*business_keys).orderBy(F.col(ts_col).desc())
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        eff = latest.agg(F.max(ts_col).alias("m")).first()["m"]
        apply_scd2(
            lake,
            table,
            latest.drop(ts_col),
            business_keys,
            tracked_cols,
            surrogate_name=surrogate_name,
            effective_ts=str(eff),
        )

    writer = entity_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
