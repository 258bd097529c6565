"""Sketch aggregations — the sub-linear-memory path for 100 TB stats.

Exact distinct counts and quantiles shuffle every distinct value; at
corpus scale the right tool is a mergeable sketch: HyperLogLog++ for
cardinality (``approx_count_distinct``), a quantile sketch for
percentiles (``percentile_approx``), and a Count-Min sketch for
frequency point queries. The Spark-built-in sketches run as partial
aggregates — map-side sketches merge on the reduce side, so the
shuffle carries kilobytes per group regardless of input size.

HLL/quantile outputs are implementation-defined (engine-specific
estimates), so those ops are pytest-bounded against exact answers
rather than DuckDB-hash-checked; the registry query is rows-only by
design. The Count-Min sketch below is different: built from the
md5-salted bucket idiom the battery already uses for MinHash/DSIR,
every cell and every estimate is a deterministic integer both engines
reproduce exactly — that sketch IS oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.session import broadcast_gate


def approx_profile(
    df: DataFrame,
    group_cols: list[str],
    distinct_col: str,
    quantile_col: str,
    quantiles: list[float] = (0.5, 0.95, 0.99),
    rsd: float = 0.05,
) -> DataFrame:
    """Per-group HLL cardinality + approximate quantiles in one pass."""
    return df.groupBy(*group_cols).agg(
        F.count("*").alias("n_rows"),
        F.approx_count_distinct(distinct_col, rsd=rsd).alias(
            f"approx_distinct_{distinct_col}"
        ),
        F.percentile_approx(
            quantile_col, list(quantiles), 10_000
        ).alias(f"approx_quantiles_{quantile_col}"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005): D salted hash rows x
# W buckets of exact integer counts. Estimates only ever OVER-count
# (collisions add, never subtract), with error <= 2N/W at probability
# 1 - (1/2)^D — the heavy-hitter / frequency-capping workhorse when an
# exact groupBy over the full key space is too wide to materialize.
#
# Scale shape: the build is ONE map-only pass (each key occurrence
# explodes into its D (row, bucket) pairs) into ONE groupBy whose
# output is D*W cells — map-side combinable, and the result is
# kilobytes regardless of corpus size. Estimation broadcasts the cell
# table and touches only the candidate keys.
# ---------------------------------------------------------------------------

DEPTH = 4
WIDTH = 512


def md5_fraction(col: Column, salt: str = "") -> Column:
    """Uniform fraction in [0,1) from the md5 of ``salt`` + the string
    form of ``col`` — THE cross-engine hash-to-uniform idiom (DuckDB
    reproduces ``conv(substr(md5(s),1,15),16,10)`` via
    ``CAST('0x' || substr(md5(s),1,15) AS BIGINT)``; the division by
    16^15 is one IEEE op on identical longs). Single shared
    implementation for KMV, the radius-join coordinates, and any
    future salted-fraction consumer — the arithmetic is
    correctness-critical and must not fork."""
    h = F.md5(F.concat(F.lit(salt), col.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("double") / F.lit(
        float(16**15)
    )


def _bucket(col: Column, row: int, width: int) -> Column:
    """md5-salted bucket — the cross-engine hash idiom (cf.
    `operators/curation.dsir_importance`)."""
    h = F.md5(F.concat(F.lit(f"r{row}:"), col))
    return F.pmod(
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long"), F.lit(width)
    )


def cms_build(
    keys: DataFrame,
    key_col: str = "key",
    depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """Build the sketch from a stream of key OCCURRENCES (one row per
    occurrence). Returns (row, bucket, cnt) — D*W cells."""
    pairs = keys.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        _bucket(F.col(key_col), j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("rb")
    )
    return (
        pairs.select("rb.row", "rb.bucket")
        .groupBy("row", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def kmv_distinct(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 64,
) -> DataFrame:
    """K-minimum-values cardinality sketch (Bar-Yossef et al. 2002) —
    the deterministic counterpart to the HLL profile: hash every key to
    a uniform fraction in [0,1) (md5 idiom), keep each group's ``k``
    smallest DISTINCT hash values, and estimate distinct count as
    ``(k-1) / h_k`` where ``h_k`` is the k-th smallest fraction. Groups
    with fewer than ``k`` distinct keys report their exact count (the
    sketch holds every hash). Because the hash is md5, the estimate is
    a deterministic double both engines reproduce bit-for-bit — unlike
    ``approx_count_distinct``'s engine-private HLL, this sketch is
    oracle-checkable.

    Returns (group, n_distinct_sketch, kmv_estimate): the number of
    retained hashes and the estimate (DOUBLE).

    Scale shape: one (group, hash) distinct (map-side combinable — the
    whole point is collapsing repeats early), one per-GROUP window for
    the k smallest (partitioned by the parallelism key, never global),
    one tiny per-group fold. The retained state is k hashes per group
    regardless of stream size — the mergeable-summary property that
    lets 1000 executors sketch shards independently.
    """
    from pyspark.sql.window import Window

    frac = md5_fraction(F.col(key_col)).alias("h")
    hashes = df.select(F.col(group_col), frac).distinct()
    w = Window.partitionBy(group_col).orderBy("h")
    mins = hashes.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )
    return mins.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_distinct_sketch"),
        F.when(
            F.count("*") < k, F.count("*").cast("double")
        )
        .otherwise(F.lit(float(k - 1)) / F.max("h"))
        .alias("kmv_estimate"),
    )


def cms_estimate(
    cells: DataFrame,
    candidates: DataFrame,
    key_col: str = "key",
    depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """Point-query the sketch for each candidate key: the estimate is
    the MIN over the key's D cells (missing cell -> 0). The cell table
    is D*W rows by construction, so it broadcasts through
    ``broadcast_gate`` (Catalyst sizes it at the sketched stream)."""
    probes = candidates.select(
        key_col,
        F.posexplode(
            F.array(
                *[_bucket(F.col(key_col), j, width) for j in range(depth)]
            )
        ).alias("row", "bucket"),
    )
    joined = probes.join(broadcast_gate(cells.sparkSession)(cells), ["row", "bucket"], "left")
    return probes.select(key_col).distinct().join(
        joined.groupBy(key_col).agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("bigint")
            .alias("cms_estimate")
        ),
        key_col,
    )
