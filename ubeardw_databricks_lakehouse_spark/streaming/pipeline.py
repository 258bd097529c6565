"""Continuous medallion pipeline — Structured Streaming bronze/silver.

Re-expresses the reference's DLT continuous pipelines (reference:
jobs/bronze_pipeline_config.json:23-27, pipelines/bronze_pipeline.py,
silver_pipeline.py) on open-source Structured Streaming:

- Source: Kafka in production (sources/debezium.kafka_stream); a
  file-based JSON-lines source with the identical envelope schema for
  tests and local runs. Both feed the same parse/clean transforms, so
  semantics are source-agnostic.
- Bronze: append-only typed CDC (exactly-once via checkpoint).
- Silver: cleaned entity streams. The reference's stream dedup is an
  unbounded-state ``dropDuplicates([pk])`` (SURVEY.md §2.8 ST3 — a
  latent leak); the rebuild uses ``withWatermark`` +
  ``dropDuplicatesWithinWatermark`` so state is bounded by the
  late-data horizon while batch semantics stay identical.
- Triggers: ``availableNow`` for tests/backfills, processingTime for
  continuous runs — same contract as DLT continuous vs triggered.

Scale notes: each entity stream is an independent query (own
checkpoint, own offsets) exactly like the reference's 4 DLT tables;
state store size ≈ keys-within-watermark, not total history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipelines.silver import SILVER_BUILDERS
from ..sources.debezium import to_bronze

RAW_STREAM_SCHEMA = (
    "kafka_key string, raw_value string, kafka_topic string, "
    "kafka_partition int, kafka_offset long, kafka_timestamp timestamp"
)


def file_cdc_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """JSON-lines CDC stream with the Kafka-record envelope shape.

    Each file holds rows of {kafka_key, raw_value, ...} — the same
    columns project_kafka_record produces from a live Kafka source.
    """
    return spark.readStream.schema(RAW_STREAM_SCHEMA).json(source_dir)


def silver_stream(
    bronze: DataFrame,
    entity: str,
    watermark: str | None = None,
    quarantine_sink=None,
) -> DataFrame:
    """Silver transform with bounded-state streaming dedup.

    Dedup key is (pk, cdc_timestamp), NOT pk alone: at-least-once
    redeliveries carry identical CDC timestamps and are suppressed,
    while genuine updates (same pk, later ts) flow through as new
    rows for downstream SCD2 to version. The reference dedups on pk
    alone (silver_pipeline.py:215), silently swallowing updates within
    state lifetime — a recorded divergence/bugfix (SURVEY.md §4).

    Emission latency (continuous mode): the dedup operator finalizes a
    row once the watermark passes its event time — i.e. when later CDC
    arrives. A live feed advances the watermark continuously; a stalled
    feed holds the tail until the next record (verified empirically).
    availableNow runs flush on stream completion.
    """
    from ..core.catalog import ENTITIES

    spec = ENTITIES[entity]
    cleaned = SILVER_BUILDERS[entity](
        bronze, dedup=False, quarantine_sink=quarantine_sink
    )
    return cleaned.withWatermark(
        "cdc_timestamp", watermark or spec.watermark
    ).dropDuplicatesWithinWatermark([spec.primary_key, "cdc_timestamp"])


def run_entity_pipeline(
    spark: SparkSession,
    source_dir: str,
    entity: str,
    out_root: str,
    available_now: bool = True,
    fmt: str = "parquet",
    event_log=None,
    quarantine: bool = False,
) -> dict[str, StreamingQuery]:
    """Wire source -> bronze table -> silver table for one entity.

    Returns the two streaming queries (caller awaits/stops them).
    Bronze and silver are separate checkpointed queries, matching the
    reference's table-per-stage DLT layout (S3/S4).

    ``event_log`` (a ``PipelineEventLog``): persists per-micro-batch
    metrics (numInputRows + expectation counters from observe) to the
    ``_pipeline_events`` table — ST7 parity with the DLT event log. In
    availableNow mode the recording is synchronous from
    ``recentProgress`` after termination (deterministic for tests); in
    continuous mode attach ``event_log.listener(...)`` yourself.

    ``quarantine=True`` starts a third query appending expectation-
    dropped rows (with ``_violated_rules``) to ``quarantine_{entity}``
    — parity with the reference's quarantine routing
    (expectations/data_quality.py:290-298).
    """
    bronze_path = os.path.join(out_root, f"bronze_{entity}")
    silver_path = os.path.join(out_root, f"silver_{entity}")
    ck_bronze = os.path.join(out_root, f"_ck_bronze_{entity}")
    ck_silver = os.path.join(out_root, f"_ck_silver_{entity}")

    raw = file_cdc_stream(spark, source_dir)
    bronze_df = to_bronze(raw, entity)
    # static bronze schema (derived from the transform, not the written
    # files) so the silver query can subscribe without waiting for data
    bronze_schema = bronze_df.schema
    bw = (
        bronze_df.writeStream.format(fmt)
        .option("checkpointLocation", ck_bronze)
        .option("path", bronze_path)
        .outputMode("append")
    )
    if available_now:
        bw = bw.trigger(availableNow=True)
    bq = bw.start()
    if available_now:
        # test/backfill mode: bronze fully lands before silver subscribes
        bq.awaitTermination()
    else:
        # continuous mode: both queries run concurrently; silver tails the
        # bronze directory as files appear
        os.makedirs(bronze_path, exist_ok=True)

    bronze_readstream = (
        spark.readStream.schema(bronze_schema).format(fmt).load(bronze_path)
    )

    queries: dict[str, StreamingQuery] = {"bronze": bq}
    quarantine_sink = None
    if quarantine:
        q_path = os.path.join(out_root, f"quarantine_{entity}")
        ck_q = os.path.join(out_root, f"_ck_quarantine_{entity}")

        def quarantine_sink(qdf: DataFrame) -> None:
            w = (
                qdf.withColumn(
                    "_violated_rules", F.concat_ws(",", "_violated_rules")
                )
                .writeStream.format(fmt)
                .option("checkpointLocation", ck_q)
                .option("path", q_path)
                .outputMode("append")
            )
            if available_now:
                w = w.trigger(availableNow=True)
            queries["quarantine"] = w.start()

    sw = (
        silver_stream(bronze_readstream, entity, quarantine_sink=quarantine_sink)
        .writeStream.format(fmt)
        .option("checkpointLocation", ck_silver)
        .option("path", silver_path)
        .outputMode("append")
    )
    if available_now:
        sw = sw.trigger(availableNow=True)
    sq = sw.start()
    queries["silver"] = sq
    if available_now:
        sq.awaitTermination()
        if "quarantine" in queries:
            queries["quarantine"].awaitTermination()
        if event_log is not None:
            for stage in ("bronze", "silver"):
                for p in queries[stage].recentProgress:
                    metrics = {"numInputRows": int(p.get("numInputRows", 0))}
                    for row in (p.get("observedMetrics") or {}).values():
                        d = row.asDict() if hasattr(row, "asDict") else dict(row)
                        for k, v in d.items():
                            if v is not None:
                                metrics[str(k)] = int(v)
                    event_log.record(
                        f"medallion_{entity}", stage, metrics, p.get("batchId", -1)
                    )
    return queries
