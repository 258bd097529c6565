"""Incremental view maintenance over the Change Data Feed.

The 100 TB pattern the CDF exists for: a downstream aggregate (a
"materialized view" of SUM/COUNT metrics per group) is refreshed from
the base table's *change rows* instead of a full rescan. Delta's CDF
row vocabulary makes every aggregate delta computable locally:

    insert            -> +value, +1 row
    update_postimage  -> +value, +1 row   (into its — possibly new — group)
    update_preimage   -> -value, -1 row   (out of its old group)
    delete            -> -value, -1 row

so a refresh shuffles only the changed keys — O(changes), not O(table).
SUM/COUNT are self-maintainable; AVG derives as sum/count at read
time. (MIN/MAX are not self-maintainable under deletes — that is a
fundamental IVM limitation, not an implementation gap; maintain them
with a periodic full refresh.)

Reference parity: the reference enables CDF on every silver table
(silver_pipeline.py:95) but ships no consumer; this is the consumer a
warehouse actually runs nightly against a 100 TB fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lakehouse import Lakehouse, _next_commit_version, read_changes

def _sign() -> F.Column:
    # lazy: Column construction needs an active session (import-time
    # F.col is the documented pandas_udf/Column gotcha)
    return (
        F.when(F.col("_change_type").isin("insert", "update_postimage"), F.lit(1))
        .when(F.col("_change_type").isin("delete", "update_preimage"), F.lit(-1))
        .otherwise(F.lit(0))
    )


def _row_delta() -> F.Column:
    # identical to the value sign: an update's preimage decrements the
    # OLD group's row count and its postimage increments the NEW one's
    # — for in-place updates the pair cancels, for group-moving updates
    # it transfers the row (the case a plain insert/delete-only count
    # delta silently corrupts)
    return _sign()


def metric_deltas(
    changes: DataFrame,
    group_cols: list[str],
    value_col: str,
    value_prec: str = "decimal(18,2)",
) -> DataFrame:
    """Per-group (sum_delta, count_delta) from CDF change rows.

    One narrow groupBy over the change set — signed values combine
    map-side, and the shuffle key is the view's own grain. DECIMAL
    arithmetic keeps increments exact: incremental and full refresh
    agree bit-for-bit, which the equivalence test pins.
    """
    signed = changes.select(
        *group_cols,
        (_sign() * F.coalesce(F.col(value_col).cast(value_prec), F.lit(0))).alias(
            "_sv"
        ),
        _row_delta().alias("_rd"),
    )
    return signed.groupBy(*group_cols).agg(
        F.sum("_sv").cast(value_prec).alias("sum_delta"),
        F.sum("_rd").cast("long").alias("count_delta"),
    )


def apply_deltas(
    lake: Lakehouse,
    view_name: str,
    deltas: DataFrame,
    group_cols: list[str],
    value_prec: str = "decimal(18,2)",
    meta: dict | None = None,
) -> None:
    """Fold a (group_cols, sum_delta, count_delta) frame into the view:
    full-outer join on the group key (co-partitioned with the view's
    own layout); groups whose n_rows reaches 0 drop out.

    ``meta`` commits atomically with the rewritten view (merged over
    any existing sidecar keys) — the transaction-tag channel the
    refresh watermark and the streaming batch-id ledger ride on."""
    if meta is not None:
        meta = {**lake.read_table_meta(view_name), **meta}
    if not lake.exists(view_name):
        seed = deltas.select(
            *group_cols,
            F.col("sum_delta").cast(value_prec).alias("sum_value"),
            F.col("count_delta").cast("long").alias("n_rows"),
        ).where(F.col("n_rows") > 0)
        lake.overwrite(view_name, seed, meta=meta)
        return
    view = lake.read(view_name)
    merged = (
        view.alias("v")
        .join(deltas.alias("d"), group_cols, "full_outer")
        .select(
            *[F.coalesce(F.col(f"v.{c}"), F.col(f"d.{c}")).alias(c) for c in group_cols],
            (
                F.coalesce(F.col("v.sum_value"), F.lit(0).cast(value_prec))
                + F.coalesce(F.col("d.sum_delta"), F.lit(0).cast(value_prec))
            ).cast(value_prec).alias("sum_value"),
            (
                F.coalesce(F.col("v.n_rows"), F.lit(0))
                + F.coalesce(F.col("d.count_delta"), F.lit(0))
            ).cast("long").alias("n_rows"),
        )
        .where(F.col("n_rows") > 0)
    )
    lake.overwrite(view_name, merged, meta=meta)


def refresh_metric_view(
    lake: Lakehouse,
    view_name: str,
    base_name: str,
    group_cols: list[str],
    value_col: str,
    since_ts: str | None = None,
    value_prec: str = "decimal(18,2)",
) -> None:
    """Fold CDF changes of ``base_name`` into the aggregate view
    ``(group_cols, sum_value, n_rows)``.

    First call (view absent) seeds from the base table and records the
    CDF's current ``_commit_version`` as the view's refresh watermark
    (sidecar meta, committed with the data — every change up to that
    version is already inside the seed). Later calls fold only commits
    PAST the watermark and advance it, so calling with defaults is
    always safe: nothing replays, nothing double-counts. An explicit
    ``since_ts`` overrides the watermark (caller-managed window — the
    caller owns dedup across calls); the watermark still advances to
    the max version actually folded.
    """
    if not lake.exists(view_name):
        base = lake.read(base_name)
        seed = base.groupBy(*group_cols).agg(
            F.sum(F.col(value_col).cast(value_prec)).cast(value_prec).alias(
                "sum_value"
            ),
            F.count("*").alias("n_rows"),
        )
        # the CDF's newest version (0 without a CDF) is inside the seed
        seeded_version = _next_commit_version(lake, f"{base_name}__cdf") - 1
        lake.overwrite(
            view_name, seed, meta={"last_commit_version": seeded_version}
        )
        return
    if since_ts is not None:
        changes = read_changes(lake, base_name, since_ts=since_ts)
    else:
        m = lake.read_table_meta(view_name)
        if "last_commit_version" not in m:
            # a view with no recorded watermark (pre-watermark seed, or
            # maintained by the streaming path) would replay the ENTIRE
            # CDF history here — the double-count this watermark exists
            # to prevent. Refuse rather than corrupt.
            raise ValueError(
                f"view {view_name!r} has no refresh watermark; pass an "
                "explicit since_ts or reseed the view"
            )
        last_v = int(m["last_commit_version"])
        changes = read_changes(lake, base_name, since_version=last_v)
    prev_v = int(lake.read_table_meta(view_name).get("last_commit_version", 0))
    hi = changes.agg(F.max("_commit_version")).first()[0]
    new_v = max(prev_v, int(hi or 0))
    deltas = metric_deltas(changes, group_cols, value_col, value_prec)
    apply_deltas(
        lake,
        view_name,
        deltas,
        group_cols,
        value_prec,
        meta={"last_commit_version": new_v},
    )
