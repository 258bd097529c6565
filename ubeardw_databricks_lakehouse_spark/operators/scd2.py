"""Generalized SCD Type-2 merge engine.

Re-expresses the reference's ``apply_scd2_merge`` (reference:
pipelines/gold_pipeline.py:112-227) as a reusable operator with
composite-key support:

1. hash tracked attributes (sha2 over ordered, null-coalesced casts);
2. change-detect via LEFT JOIN against current rows
   (``target.row_hash IS NULL OR source.row_hash != target.row_hash``);
3. short-circuit when nothing changed (gold_pipeline.py:177-180);
4. assign version = coalesce(max_existing, 0) + 1 via a grouped-max join;
5. commit the expired previous versions (is_current=false, end date)
   and the new current versions as ONE ``Lakehouse.upsert`` keyed on
   business keys + version_number: the expired rows match and update,
   the new versions insert — one MERGE on either backend, so no crash
   window leaves a changed key without a current row.

Scale notes: the dimension side is small relative to the fact; the
change-detection join broadcasts the *current* snapshot of the dim when
it fits (Catalyst/AQE decides; dims here are << the 64 MB threshold).
Surrogate keys are ``xxhash64(business keys, version)`` — deterministic
and shuffle-free, replacing the reference's global-window
``row_number()`` single-task sort hazard (SURVEY.md §4(c)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import row_hash
from ..storage.lakehouse import Lakehouse

SCD2_META_COLS = [
    "row_hash",
    "version_number",
    "is_current",
    "effective_start_date",
    "effective_end_date",
]


def surrogate_key(business_keys: list[str]) -> F.Column:
    """Deterministic 64-bit surrogate over keys+version (no global sort)."""
    return F.xxhash64(
        *[F.col(k).cast("string") for k in business_keys], F.col("version_number")
    )


def apply_scd2(
    lake: Lakehouse,
    table: str,
    source: DataFrame,
    business_keys: list[str],
    tracked_cols: list[str],
    surrogate_name: str | None = None,
    effective_ts=None,
) -> int:
    """Merge ``source`` (current entity snapshot) into SCD2 dim ``table``.

    Returns the number of new version rows written. ``effective_ts`` may
    be a Column/literal for deterministic tests; defaults to
    current_timestamp() like the reference (gold_pipeline.py:146-147).
    """
    if effective_ts is None:
        effective_ts = F.current_timestamp()
    elif not isinstance(effective_ts, F.Column):
        effective_ts = F.lit(effective_ts).cast("timestamp")

    hashed = source.withColumn("row_hash", row_hash(*tracked_cols))

    if not lake.exists(table):
        first = (
            hashed.withColumn("version_number", F.lit(1))
            .withColumn("is_current", F.lit(True))
            .withColumn("effective_start_date", effective_ts)
            .withColumn("effective_end_date", F.lit(None).cast("timestamp"))
        )
        if surrogate_name:
            first = first.withColumn(surrogate_name, surrogate_key(business_keys))
        lake.overwrite(table, first)
        # row count from the just-written parquet footers — counting the
        # FRAME would re-execute its whole lineage (metrics aggregation +
        # row hash) a second time just to report a number (guide §2.4);
        # the footer read is metadata-only and returns the same count
        return lake.read(table).count()

    current = lake.read(table).filter(F.col("is_current")).select(
        *business_keys, F.col("row_hash").alias("_cur_hash")
    )
    changes = (
        hashed.join(current, on=business_keys, how="left")
        .filter(F.col("_cur_hash").isNull() | (F.col("row_hash") != F.col("_cur_hash")))
        .drop("_cur_hash")
    )
    # Persist the (small) change set: it feeds the expiry semi-join, the
    # version join, and the new rows — one computation, three consumers.
    changes = changes.cache()
    n_changes = changes.count()
    if n_changes == 0:
        changes.unpersist()
        return 0

    # Expire the previous current versions of the changed keys. The changed
    # key set derives from the cached change set, whose size the planner
    # sees, so it broadcasts to the dim scan under the session threshold.
    changed_keys = changes.select(*business_keys).distinct()
    expired = (
        lake.read(table)
        .filter(F.col("is_current"))
        .join(changed_keys, on=business_keys, how="left_semi")
        .withColumn("is_current", F.lit(False))
        .withColumn("effective_end_date", effective_ts)
    )

    # Version numbers for the new rows (gold_pipeline.py:197-211).
    max_versions = (
        lake.read(table)
        .groupBy(*business_keys)
        .agg(F.max("version_number").alias("_max_version"))
    )
    new_rows = (
        changes.join(max_versions, on=business_keys, how="left")
        .withColumn(
            "version_number", F.coalesce(F.col("_max_version"), F.lit(0)) + F.lit(1)
        )
        .drop("_max_version")
        .withColumn("is_current", F.lit(True))
        .withColumn("effective_start_date", effective_ts)
        .withColumn("effective_end_date", F.lit(None).cast("timestamp"))
    )
    if surrogate_name:
        new_rows = new_rows.withColumn(surrogate_name, surrogate_key(business_keys))

    # one MERGE: the expired versions match their own (keys, version)
    # row and update it, the new versions match nothing and insert
    lake.upsert(
        table,
        expired.unionByName(new_rows.select(*expired.columns)),
        keys=business_keys + ["version_number"],
    )
    changes.unpersist()
    return n_changes
