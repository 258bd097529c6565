"""Robust-statistics cleaning ops for numeric feature columns.

Winsorization (percentile clipping) is the standard outlier treatment
before a numeric column feeds model training or reward shaping: values
below the lower / above the upper group percentile clamp to the
boundary instead of being dropped, preserving row count while bounding
influence.

Cross-engine determinism: Spark's exact ``percentile`` and DuckDB's
``PERCENTILE_CONT`` share the same linear-interpolation definition and
produce bit-identical doubles (probed on the events table); clipped
sums follow the plans/common DECIMAL policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.session import broadcast_gate, checkpoint


def winsorize_summary(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
) -> DataFrame:
    """Per-group winsorization report: the clip boundaries (exact
    percentiles), how many rows clamp at each side, and the winsorized
    mass (DECIMAL-rounded sum surfaced as DOUBLE).

    Scale shape: ``percentile`` is a partial-aggregate sketch-free
    exact implementation — ONE groupBy pass builds the boundaries
    (per-group value buffers; groups are the parallelism unit), the
    boundary table (|groups| rows) broadcasts back through
    ``broadcast_gate`` (the aggregate's estimate is the value stream's
    size, so the planner alone would broadcast the stream instead), and
    the clip + summary is a second map-side-combined groupBy. The value
    stream is never globally sorted.
    """
    bounds = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {lower})").alias("p_lo"),
        F.expr(f"percentile({value_col}, {upper})").alias("p_hi"),
    )
    v = F.col(value_col)
    clipped = F.least(F.greatest(v, F.col("p_lo")), F.col("p_hi"))
    return (
        df.join(broadcast_gate(df.sparkSession)(bounds), group_col)
        .groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("p_lo").alias("p_lo"),
            F.min("p_hi").alias("p_hi"),
            F.sum((v < F.col("p_lo")).cast("int"))
            .cast("bigint")
            .alias("n_clipped_low"),
            F.sum((v > F.col("p_hi")).cast("int"))
            .cast("bigint")
            .alias("n_clipped_high"),
            F.sum(F.round(clipped, 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_winsorized"),
        )
    )


def mad_outlier_summary(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier report via median absolute deviation:
    median m, MAD = median(|x - m|), and the count/rate of rows with
    |x - m| > k * MAD (Hampel identifier; the robust cousin of the
    z-score screen — immune to the outliers it hunts, unlike
    mean/stddev, which the outliers themselves drag).

    A zero-MAD group (majority-constant values) flags every deviating
    row: the strict ``>`` keeps exact-median rows in, which is the
    standard convention.

    Cross-engine determinism: Spark's exact ``percentile(x, 0.5)`` is
    bit-identical to DuckDB's PERCENTILE_CONT (probed — see
    winsorize_summary); |x - m|, k * MAD and the comparison are single
    IEEE ops on those identical doubles.

    Scale shape: two groupBy passes (median, then MAD over deviations),
    each a partial-aggregated exact percentile per group with the group
    as the parallelism unit; both boundary tables (|groups| rows)
    broadcast back through ``broadcast_gate`` — one is a checkpoint,
    the other an aggregate over a join, so Catalyst cannot size either.
    The value stream is never globally sorted. At
    extreme group cardinality swap approx_percentile into the SAME
    frame — the agg expression is the knob, as in q_column_profile.
    """
    v = F.col(value_col)
    brd = broadcast_gate(df.sparkSession)
    # checkpoint med (|groups| rows): it is re-joined by BOTH the MAD
    # pass and the final pass — without it each downstream branch
    # recomputes the median scan (ReuseExchange does not fire across
    # them), turning the 3-scan two-pass shape into 4 scans.
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    ).transform(checkpoint)
    dev = df.join(brd(med), group_col).withColumn(
        "_dev", F.abs(v - F.col("med"))
    )
    mad = dev.groupBy(group_col).agg(
        F.expr("percentile(_dev, 0.5)").alias("mad")
    )
    return (
        dev.join(brd(mad), group_col)
        .groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            # count(when(...)), not sum(cast(int)): a group whose
            # values are ALL NULL has every _dev NULL, and sum over
            # NULLs is NULL in Spark while the SQL twin's
            # SUM(CASE ... ELSE 0) is 0 — count() gives 0 in both.
            F.count(
                F.when(F.col("_dev") > F.lit(float(k)) * F.col("mad"), 1)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .withColumn(
            "outlier_rate", F.col("n_outliers").cast("double") / F.col("n")
        )
    )
