"""Maintenance layer: compaction/clustering + gold validation suite,
run against the golden-fixture star schema."""

from __future__ import annotations

import pytest

from ubeardw_databricks_lakehouse_spark.maintenance.optimize import (
    describe_detail,
    optimize_gold_tables,
    optimize_table,
)
from ubeardw_databricks_lakehouse_spark.maintenance.validation import validate_gold
from ubeardw_databricks_lakehouse_spark.pipelines.gold import run_gold_job
from ubeardw_databricks_lakehouse_spark.pipelines.silver import (
    silver_courier,
    silver_eater,
    silver_merchant,
    silver_trip_events,
)
from ubeardw_databricks_lakehouse_spark.sources.debezium import to_bronze
from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse
from ubeardw_databricks_lakehouse_spark.testing.fixtures import raw_kafka_df


@pytest.fixture(scope="module")
def gold_lake(spark, tmp_path_factory):
    lake = Lakehouse(spark, str(tmp_path_factory.mktemp("goldmaint")))
    run_gold_job(
        lake,
        silver_eater(to_bronze(raw_kafka_df(spark, "eater"), "eater")),
        silver_merchant(to_bronze(raw_kafka_df(spark, "merchant"), "merchant")),
        silver_courier(to_bronze(raw_kafka_df(spark, "courier"), "courier")),
        silver_trip_events(to_bronze(raw_kafka_df(spark, "trip_events"), "trip_events")),
        effective_ts="2024-12-02 02:00:00",
    )
    return lake


def test_optimize_compacts_files(spark, gold_lake):
    # fragment the table first (simulates many small streaming writes)
    gold_lake.overwrite("dim_date", gold_lake.read("dim_date").repartition(8))
    before = describe_detail(gold_lake, "dim_date")
    assert before["numFiles"] == 8
    res = optimize_table(gold_lake, "dim_date", zorder_by=["date_key"])
    assert res["status"] == "SUCCESS"
    assert res["files_after"] <= res["files_before"]
    assert res["files_after"] == 1  # tiny table -> single 128MB-target file
    # data intact and readable after rewrite
    assert gold_lake.read("dim_date").count() == 4018


def test_optimize_whole_schema(spark, gold_lake):
    results = optimize_gold_tables(gold_lake)
    by_table = {r["table"]: r for r in results}
    assert by_table["trip_fact"]["status"] == "SUCCESS"
    assert by_table["dim_eater"]["status"] == "SUCCESS"


def test_gold_validation_suite_passes(spark, gold_lake):
    summary = validate_gold(gold_lake, raise_on_failure=True)
    assert summary["status"] == "PASS"
    assert summary["tables"]["dim_date"]["counts"]["total"] == 4018
    assert summary["tables"]["trip_fact"]["counts"]["orphans"] == 0


def test_validation_detects_corruption(spark, gold_lake, tmp_path):
    """Plant an orphan fact row -> referential integrity must FAIL."""
    lake2 = Lakehouse(spark, str(tmp_path))
    for t in ["dim_eater", "dim_merchant", "dim_courier", "dim_location",
              "dim_date", "dim_time", "trip_fact"]:
        lake2.overwrite(t, gold_lake.read(t))
    fact = gold_lake.read("trip_fact")
    orphan = fact.limit(1).withColumn("eater_id", fact.eater_id + 9999)
    lake2.append("trip_fact", orphan)
    summary = validate_gold(lake2)
    assert summary["tables"]["trip_fact"]["status"] == "FAIL"
    assert summary["status"] == "FAIL"
    with pytest.raises(AssertionError):
        validate_gold(lake2, raise_on_failure=True)


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must join with no Exchange
    (the co-located join the 100 TB layout relies on); result equals
    the plain join."""
    from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "lake"))
    left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS b")
    lake.overwrite_bucketed("bkt_left", left, ["k"], 4, sort_cols=["k"])
    lake.overwrite_bucketed("bkt_right", right, ["k"], 4, sort_cols=["k"])
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
        row = joined.filter("k = 7").first()
        assert (row["a"], row["b"]) == (14, 21)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_vacuum_removes_only_aged_orphan_versions(spark, tmp_path):
    import os
    import time

    from ubeardw_databricks_lakehouse_spark.maintenance.optimize import vacuum
    from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse

    lake = Lakehouse(spark, str(tmp_path))
    df = spark.range(10).withColumnRenamed("id", "k")
    lake.overwrite("tbl", df)
    live = os.path.join(tmp_path, os.readlink(lake.path("tbl")))
    # a commit deletes the version it supersedes — simulate the crash
    # case where a version was left behind unreferenced
    orphans = [".v-tbl-deadbeef", ".v-tbl-cafebabe"]
    for t in orphans:
        os.makedirs(os.path.join(tmp_path, t))
        with open(os.path.join(tmp_path, t, "part-0.parquet"), "w") as f:
            f.write("x")
    # young orphans survive the default retention
    assert vacuum(lake) == []
    # age one orphan and the live version artificially; only the orphan
    # is removed — the version the table link points at never is
    aged = os.path.join(tmp_path, orphans[0])
    for d in (aged, live):
        os.utime(d, (time.time() - 8 * 86400, time.time() - 8 * 86400))
    removed = vacuum(lake)
    assert removed == [aged]
    assert not os.path.exists(aged)
    assert os.path.isdir(live) and os.path.isdir(os.path.join(tmp_path, orphans[1]))
    # the table itself is untouched and readable
    assert lake.read("tbl").count() == 10


def test_failed_meta_write_keeps_the_old_properties(spark, tmp_path, monkeypatch):
    """The sidecar meta is replaced atomically: a write that dies
    mid-``json.dump`` leaves the previous properties readable."""
    from ubeardw_databricks_lakehouse_spark.storage import lakehouse as lh

    lake = lh.Lakehouse(spark, str(tmp_path))
    lake.overwrite("t", spark.range(3), meta={"last_batch_id": 4})

    def broken_dump(obj, f):
        f.write('{"last_')
        raise OSError("disk full")

    monkeypatch.setattr(lh.json, "dump", broken_dump)
    with pytest.raises(OSError):
        lake.set_auto_compact("t", max_files=8)
    monkeypatch.undo()
    assert lake.read_table_meta("t") == {"last_batch_id": 4}
    assert lake.read("t").count() == 3


def test_partitioned_read_prunes_partitions(spark, tmp_path):
    """Partition pruning: a filter on the partition column must become a
    PartitionFilters entry on the scan (no data files of other
    partitions are read) — the property that makes date-partitioned
    100 TB tables queryable."""
    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse

    lake = Lakehouse(spark, str(tmp_path))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("bucket")
    )
    lake.overwrite("parted", df, partition_by=["bucket"])
    got = lake.read("parted").filter(F.col("bucket") == 2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan or (
        "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]
    ), plan
    assert got.count() == 25


def test_append_schema_enforcement_and_evolution(spark, tmp_path):
    """Delta's schema contract on the parquet twin: appends with new
    columns are rejected by default; merge_schema=True evolves the
    table and old rows read the new column as null."""
    import pytest as _pytest

    from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse

    lake = Lakehouse(spark, str(tmp_path))
    lake.overwrite("t", spark.createDataFrame([(1, "a")], "id long, v string"))
    v2 = spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double")
    with _pytest.raises(ValueError, match="merge_schema=True"):
        lake.append("t", v2)
    lake.append("t", v2, merge_schema=True)
    got = {r["id"]: r for r in lake.read("t", merge_schema=True).collect()}
    assert got[1]["score"] is None and got[2]["score"] == 9.5
    # subset appends stay allowed (missing column -> null)
    lake.append("t", spark.createDataFrame([(3,)], "id long"))
    back = lake.read("t", merge_schema=True)
    assert back.count() == 3
    assert {r["id"] for r in back.select("id").collect()} == {1, 2, 3}


def test_auto_compact_property_bounds_file_count(spark, tmp_path):
    """M5 parquet twin: with auto-compact set, repeated small appends
    keep the file count bounded instead of growing without limit, the
    property survives the compaction rewrite, and no rows are lost."""
    from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse

    lake = Lakehouse(spark, str(tmp_path))
    lake.overwrite("t", spark.range(10).toDF("id"))
    lake.set_auto_compact("t", max_files=6)
    for i in range(10):
        lake.append("t", spark.range(10 * (i + 1), 10 * (i + 2)).toDF("id"))
    import os

    n_files = sum(
        1
        for _r, _d, files in os.walk(lake.path("t"))
        for f in files
        if f.endswith(".parquet")
    )
    assert n_files <= 6, n_files
    assert lake.read("t").count() == 110
    assert lake.read_table_meta("t")["auto_compact_max_files"] == 6


def test_auto_compact_no_thrash_and_property_survives_overwrite(spark, tmp_path):
    """Anti-thrash guard: a table whose file count exceeds max_files
    only because it has OUTGROWN max_files*target must not rewrite
    itself on every append; and the property survives a plain
    overwrite (Delta table-property semantics)."""
    import os

    from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse

    lake = Lakehouse(spark, str(tmp_path))
    lake.overwrite("t", spark.range(5).toDF("id"))
    lake.set_auto_compact("t", max_files=2)
    # property survives INSERT OVERWRITE
    lake.overwrite("t", spark.range(5).toDF("id"))
    assert lake.read_table_meta("t")["auto_compact_max_files"] == 2

    # simulate "outgrown": after one compaction, ideal>=1; with
    # max_files=2 and 3 appends, fragmentation triggers once, then the
    # compacted layout (n_files <= 2*ideal) must be stable
    for i in range(3):
        lake.append("t", spark.range(10 + i, 11 + i).toDF("id"))

    def count_files():
        return sum(
            1
            for _r, _d, fs in os.walk(lake.path("t"))
            for f in fs
            if f.endswith(".parquet")
        )

    n1 = count_files()
    mtimes1 = sorted(
        os.path.getmtime(os.path.join(r, f))
        for r, _d, fs in os.walk(lake.path("t"))
        for f in fs
        if f.endswith(".parquet")
    )
    # one more append: allowed to add exactly one file or trigger one
    # compaction, but must NOT rewrite the whole table when already at
    # the compacted ideal
    lake.append("t", spark.range(99, 100).toDF("id"))
    n2 = count_files()
    assert n2 <= max(n1 + 1, 2)
    assert lake.read("t").count() == 9


def test_optimize_write_one_file_per_partition_dir(spark, tmp_path):
    """optimizeWrite twin (M5's pre-write half): with the property set,
    every write repartitions on the partition columns, so each
    partition directory receives exactly ONE file per write instead of
    one per (task, value); the property survives overwrite and is a
    no-op for unpartitioned tables."""
    import os

    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse

    def files_per_dir(lake, name):
        out = {}
        for r, _d, files in os.walk(lake.path(name)):
            n = sum(1 for f in files if f.endswith(".parquet"))
            if n and "p=" in os.path.basename(r):
                out[os.path.basename(r)] = n
        return out

    # p cast to int: partition-dir type inference reads "p=0" back as
    # int, and append's schema enforcement rightly rejects a mismatch
    df = (
        spark.range(1000)
        .repartition(8)
        .withColumn("p", F.pmod("id", F.lit(4)).cast("int"))
    )
    lake = Lakehouse(spark, str(tmp_path))
    lake.overwrite("t", df, partition_by=["p"])
    before = files_per_dir(lake, "t")
    assert max(before.values()) > 1  # the small-file explosion is real

    lake.set_optimize_write("t")
    lake.overwrite("t", df, partition_by=["p"])
    after = files_per_dir(lake, "t")
    assert set(after) == {"p=0", "p=1", "p=2", "p=3"}
    assert all(n == 1 for n in after.values()), after
    assert lake.read("t").count() == 1000
    # appends get one NEW file per directory, not one per task
    lake.append("t", df)
    appended = files_per_dir(lake, "t")
    assert all(n == 2 for n in appended.values()), appended
    assert lake.read("t").count() == 2000
    # property survived the overwrite-after-set and reads back
    assert lake.read_table_meta("t")["optimize_write"] is True
    # unpartitioned table: property is a harmless no-op
    lake.overwrite("u", spark.range(10).toDF("id"))
    lake.set_optimize_write("u")
    lake.append("u", spark.range(10, 20).toDF("id"))
    assert lake.read("u").count() == 20
