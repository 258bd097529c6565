from __future__ import annotations

from pathlib import Path

import pytest

from ubeardw_databricks_lakehouse_spark.core.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ubeardw-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def registry_builds(spark):
    """Every registry entry built once at sf0.001 with broadcasts
    disabled (``spark.sql.autoBroadcastJoinThreshold=-1``), each inside
    its own ``checkpoint_scope`` as bench.py builds it: {name: (output
    schema, executed plan string)}. Shared by the registry-wide tests
    so the 177 builds run once per session; the threshold is restored
    even when a build raises."""
    from ubeardw_databricks_lakehouse_spark.core.session import checkpoint_scope
    from ubeardw_databricks_lakehouse_spark.plans.registry import QUERIES

    sf = str(Path(__file__).resolve().parents[2] / "testdata" / "sf0.001")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    builds = {}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for q in QUERIES:
            with checkpoint_scope():
                df = q.fn(spark, sf)
                builds[q.name] = (
                    df.schema,
                    df._jdf.queryExecution().executedPlan().toString(),
                )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return builds
