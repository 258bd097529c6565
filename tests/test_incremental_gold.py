"""Incremental trip_fact: events arriving in micro-batches that split
trips mid-lifecycle must converge to the exact daily-batch answer."""

from __future__ import annotations

import os

import pytest

from ubeardw_databricks_lakehouse_spark.pipelines.gold import (
    build_dim_location,
    build_trip_fact,
)
from ubeardw_databricks_lakehouse_spark.pipelines.silver import (
    silver_eater,
    silver_merchant,
    silver_trip_events,
)
from ubeardw_databricks_lakehouse_spark.sources.debezium import to_bronze
from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse
from ubeardw_databricks_lakehouse_spark.streaming.incremental_gold import (
    start_incremental_trip_fact,
)
from ubeardw_databricks_lakehouse_spark.testing.fixtures import (
    TRIP_EVENTS,
    raw_kafka_df,
)


def test_incremental_fact_converges_to_batch(spark, tmp_path):
    eater = silver_eater(to_bronze(raw_kafka_df(spark, "eater"), "eater"))
    merchant = silver_merchant(to_bronze(raw_kafka_df(spark, "merchant"), "merchant"))
    dim_loc = build_dim_location(eater, merchant)
    full_silver = silver_trip_events(
        to_bronze(raw_kafka_df(spark, "trip_events"), "trip_events")
    )

    # silver lands as a parquet table (what the streaming silver writes)
    silver_path = str(tmp_path / "silver_trip_events")
    full_silver.write.parquet(silver_path)

    # events arrive in 2 waves SPLIT MID-TRIP: wave1 = first 4 events of
    # trip-001 + trip-003 complete; wave2 = the rest
    stream_src = tmp_path / "waves"
    stream_src.mkdir()
    wave1_ids = {1, 2, 3, 4, 15, 16, 17}
    ev1 = [e for e in TRIP_EVENTS if e["event_id"] in wave1_ids]
    ev2 = [e for e in TRIP_EVENTS if e["event_id"] not in wave1_ids]

    lake = Lakehouse(spark, str(tmp_path / "gold"))
    silver_schema = spark.read.parquet(silver_path).schema

    def run_wave(events, n):
        src = tmp_path / f"w{n}"
        src.mkdir()
        silver_trip_events(
            to_bronze(raw_kafka_df(spark, "trip_events", rows=events), "trip_events")
        ).write.parquet(str(src / "data"))
        stream = spark.readStream.schema(silver_schema).parquet(str(src / "data"))
        q = start_incremental_trip_fact(
            spark,
            stream,
            silver_path,
            eater,
            merchant,
            dim_loc,
            lake,
            checkpoint=str(tmp_path / f"ck{n}"),
        )
        q.awaitTermination()

    run_wave(ev1, 1)
    mid = {r.trip_id: r for r in lake.read("trip_fact").collect()}
    # after wave 1 both touched trips exist; trip-001 only has 4 events
    # in the wave but was recomputed from FULL silver -> already complete
    assert set(mid) == {"trip-001", "trip-003"}
    assert mid["trip-001"].trip_status == "completed"

    run_wave(ev2, 2)
    final = {r.trip_id: r for r in lake.read("trip_fact").collect()}
    assert set(final) == {"trip-001", "trip-002", "trip-003"}

    # exact convergence with the batch build
    batch = {
        r.trip_id: r
        for r in build_trip_fact(
            spark.read.parquet(silver_path), eater, merchant, dim_loc
        ).collect()
    }
    for trip_id, b in batch.items():
        f = final[trip_id]
        assert f.trip_status == b.trip_status
        assert f.total_amount == b.total_amount
        assert f.updated_at == b.updated_at
        assert f.region_partition == b.region_partition


def test_incremental_scd2_matches_batch_history(spark, tmp_path):
    """CDC waves folded through foreachBatch SCD2 == batch apply_scd2
    applied snapshot-by-snapshot: same versions, currency, end dates."""
    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.operators.scd2 import apply_scd2
    from ubeardw_databricks_lakehouse_spark.streaming.incremental_gold import (
        start_incremental_scd2,
    )

    schema = "id int, name string, city string, cdc_ts string"
    def ts(df):
        return df.withColumn(
            "cdc_timestamp", F.to_timestamp("cdc_ts")
        ).drop("cdc_ts")

    wave1 = spark.createDataFrame(
        [
            (1, "alice", "paris", "2024-01-01 10:00:00"),
            (1, "alice", "lyon", "2024-01-01 11:00:00"),  # intra-batch: latest wins
            (2, "bob", "nice", "2024-01-01 10:30:00"),
        ],
        schema,
    )
    wave1 = ts(wave1)
    wave2 = spark.createDataFrame(
        [
            (1, "alice", "marseille", "2024-01-02 09:00:00"),
            (3, "carol", "toulouse", "2024-01-02 09:30:00"),
        ],
        schema,
    )
    wave2 = ts(wave2)

    def run_wave(df, n, lake):
        src = tmp_path / f"scd_w{n}"
        df.write.parquet(str(src))
        stream = spark.readStream.schema(df.schema).parquet(str(src))
        q = start_incremental_scd2(
            spark, stream, lake, "dim_stream", ["id"], ["name", "city"],
            checkpoint=str(tmp_path / f"scd_ck{n}"),
        )
        q.awaitTermination()

    stream_lake = __import__(
        "ubeardw_databricks_lakehouse_spark.storage.lakehouse",
        fromlist=["Lakehouse"],
    ).Lakehouse(spark, str(tmp_path / "stream_gold"))
    run_wave(wave1, 1, stream_lake)
    run_wave(wave2, 2, stream_lake)

    batch_lake = __import__(
        "ubeardw_databricks_lakehouse_spark.storage.lakehouse",
        fromlist=["Lakehouse"],
    ).Lakehouse(spark, str(tmp_path / "batch_gold"))
    w = F.row_number().over(
        __import__("pyspark.sql.window", fromlist=["Window"])
        .Window.partitionBy("id").orderBy(F.col("cdc_timestamp").desc())
    )
    for df, eff in [(wave1, "2024-01-01 11:00:00"), (wave2, "2024-01-02 09:30:00")]:
        snap = df.withColumn("_rn", w).where("_rn = 1").drop("_rn", "cdc_timestamp")
        apply_scd2(batch_lake, "dim_stream", snap, ["id"], ["name", "city"],
                   surrogate_name="sk", effective_ts=eff)

    cols = ["id", "name", "city", "version_number", "is_current",
            "effective_start_date", "effective_end_date"]
    got = sorted(
        stream_lake.read("dim_stream").select(cols).collect(),
        key=lambda r: (r["id"], r["version_number"]),
    )
    want = sorted(
        batch_lake.read("dim_stream").select(cols).collect(),
        key=lambda r: (r["id"], r["version_number"]),
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # intra-batch latest-wins: wave1 left alice at lyon, v1
    alice = {r["version_number"]: r for r in got if r["id"] == 1}
    assert alice[1]["city"] == "lyon" and alice[2]["city"] == "marseille"
    assert not alice[1]["is_current"] and alice[2]["is_current"]


def _lakehouse_day(spark, root):
    """Day 1 gold job, one incremental trip_fact micro-batch, then a
    day-2 gold job in which one eater moved (one SCD2 change). Returns
    the final trip_fact and dim rows, and the executed plan of every
    frame committed through ``Lakehouse.upsert`` / ``overwrite``."""
    from ubeardw_databricks_lakehouse_spark.pipelines.gold import run_gold_job
    from ubeardw_databricks_lakehouse_spark.pipelines.silver import silver_courier
    from ubeardw_databricks_lakehouse_spark.testing.fixtures import EATERS

    plans = []

    def recording(method):
        def run(self, name, df, *args, **kwargs):
            plans.append(
                (name, df._jdf.queryExecution().executedPlan().toString())
            )
            return method(self, name, df, *args, **kwargs)

        return run

    def silver(entity, builder, rows=None, updates=()):
        raw = raw_kafka_df(spark, entity, rows=rows)
        if updates:
            raw = raw.unionByName(
                raw_kafka_df(spark, entity, rows=list(updates), op="u")
            )
        return builder(to_bronze(raw, entity))

    wave1_ids = {1, 2, 3, 4, 15, 16, 17}
    day1_events = [e for e in TRIP_EVENTS if e["event_id"] in wave1_ids]
    batch_events = [e for e in TRIP_EVENTS if e["event_id"] not in wave1_ids]
    moved = dict(EATERS[0], address_line_1="1 Quai Nouveau",
                 updated_at=EATERS[0]["updated_at"] + 86_400_000)
    lake = Lakehouse(spark, str(root / "gold"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Lakehouse, "upsert", recording(Lakehouse.upsert))
        mp.setattr(Lakehouse, "overwrite", recording(Lakehouse.overwrite))
        eater = silver("eater", silver_eater)
        merchant = silver("merchant", silver_merchant)
        courier = silver("courier", silver_courier)
        run_gold_job(lake, eater, merchant, courier,
                     silver("trip_events", silver_trip_events, day1_events),
                     effective_ts="2024-12-02 02:00:00")

        # the micro-batch joins full silver and static parquet entities
        silver_path = str(root / "silver_trip_events")
        silver("trip_events", silver_trip_events).write.parquet(silver_path)
        static = {}
        for name, df in (("eater", eater), ("merchant", merchant)):
            df.write.parquet(str(root / name))
            static[name] = spark.read.parquet(str(root / name))
        src = str(root / "wave")
        silver("trip_events", silver_trip_events, batch_events).write.parquet(src)
        start_incremental_trip_fact(
            spark,
            spark.readStream.schema(spark.read.parquet(silver_path).schema)
            .parquet(src),
            silver_path, static["eater"], static["merchant"],
            lake.read("dim_location"), lake, checkpoint=str(root / "ck"),
        ).awaitTermination()

        run_gold_job(lake, silver("eater", silver_eater, updates=[moved]),
                     merchant, courier,
                     silver("trip_events", silver_trip_events),
                     effective_ts="2024-12-03 02:00:00")
    tables = {
        name: sorted(
            repr(tuple(r))
            for r in lake.read(name).drop("silver_load_time").collect()
        )
        for name in ("trip_fact", "dim_location", "dim_eater",
                     "dim_merchant", "dim_courier")
    }
    return tables, plans


def test_lakehouse_day_respects_disabled_broadcasts(spark, tmp_path):
    """A session that disables broadcasts gets none on the write path:
    day 1, a trip_fact micro-batch and an SCD2 day 2 commit frames
    whose executed plans hold no BroadcastExchange, with the same
    trip_fact and dimension rows as at the default threshold."""
    want, plans = _lakehouse_day(spark, tmp_path / "default")
    assert {name for name, _ in plans} >= {"trip_fact", "dim_eater"}
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got, plans = _lakehouse_day(spark, tmp_path / "off")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want
    assert len(want["dim_eater"]) == 6  # the moved eater's two versions
    broadcast = sorted({n for n, p in plans if "BroadcastExchange" in p})
    assert not broadcast, f"broadcasts with broadcasts disabled: {broadcast}"
