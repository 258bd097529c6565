"""Distributed total-order ranking without single-partition windows.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY funnels every
row through ONE task — the classic global-window scale killer (flagged
on q_customer_deciles in round 1). The scale-safe shape:

1. range-repartition on the order key (parallel sort, same machinery
   as a distributed ORDER BY),
2. number rows locally inside each sorted partition (no shuffle — a
   mapInPandas pass that preserves partition order),
3. add per-partition offsets. Offsets come from collecting partition
   COUNTS — O(num_partitions) rows, bounded by cluster geometry, not
   by data size — and re-join as a broadcast.

The output row numbers are identical to the single-partition window's
(range boundaries affect only placement, not the global order), so any
downstream ntile/dense_rank derivation is value-stable.

Reference parity: the reference computes global rankings with its
native sort engine (utils/transformations + gold ranking tasks); this
is the Spark-idiomatic equivalent that holds at 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.session import broadcast_gate, checkpoint


def with_global_row_number(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
    with_total: bool = False,
):
    """Add a 1-based global row number over a TOTAL order.

    ``order_by`` must be a total order (include a unique tiebreak key)
    or the numbering is non-deterministic. Emits two Spark jobs (the
    partition-count pass and the main pass) over ONE materialized
    range-partitioning: repartitionByRange samples its boundaries, so
    without pinning, the two jobs could place rows differently and the
    broadcast offsets would silently mis-number rows. The pin is an
    eager localCheckpoint (the repo's r8 checkpoint discipline), not
    persist(): cached blocks can be recomputed — with freshly sampled
    boundaries — after executor loss or a caller's clearCache, silently
    misaligning the _pid-keyed offsets; a lost checkpoint block instead
    fails loudly. With ``with_total`` returns (df, n_rows) — the total
    falls out of the offset pass for free.
    """
    import pandas as pd

    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if out_col in df.columns or "_pid" in df.columns:
        raise ValueError(
            f"with_global_row_number: input already has a column named "
            f"{out_col!r} or '_pid' — rename it or pass a different out_col"
        )

    ranged = (
        df.repartitionByRange(num_partitions, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("_pid", F.spark_partition_id())
        .transform(checkpoint)
    )

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in ranged.schema.fields
    ) + f", {out_col} long"

    def number_local(batches):
        # Arrow batches stream in partition order, so a running counter
        # is the local (post-sort) row number
        i = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = pd.RangeIndex(i + 1, i + len(pdf) + 1)
            i += len(pdf)
            yield pdf

    local = ranged.mapInPandas(number_local, out_schema)

    counts = ranged.groupBy("_pid").count().collect()  # O(P), not O(N)
    by_pid = {int(r["_pid"]): int(r["count"]) for r in counts}
    offsets, acc = [], 0
    for pid in sorted(by_pid):
        offsets.append((pid, acc))
        acc += by_pid[pid]
    if not offsets:
        out = local.drop("_pid")
        return (out, 0) if with_total else out
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    out = (
        local.join(broadcast_gate(spark)(off_df), "_pid")
        .withColumn(out_col, F.col(out_col) + F.col("_off"))
        .drop("_pid", "_off")
    )
    return (out, acc) if with_total else out


def ntile_from_rn(rn: Column, n_rows: int, k: int) -> Column:
    """NTILE(k) derived from a global row number — pure arithmetic.

    SQL NTILE semantics: with n = n_rows, q = n div k, r = n mod k, the
    first r tiles hold q+1 rows, the rest q. Row rn's tile is then a
    closed-form integer expression — no window, no shuffle.
    """
    q, r = n_rows // k, n_rows % k
    if q == 0:
        # fewer rows than tiles: every row is its own tile
        return rn.cast("long")
    big = r * (q + 1)  # rows covered by the (q+1)-sized tiles
    # double division then truncate == floor here: quotients are tiny
    # (<= k) so they sit far inside double's exact-integer range
    first = ((rn - 1) / (q + 1)).cast("long") + 1
    rest = F.lit(r) + ((rn - big - 1) / q).cast("long") + 1
    return F.when(rn <= big, first).otherwise(rest).cast("long")


def global_running_sum(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    out_col: str = "running",
    num_partitions: int | None = None,
    with_total: bool = False,
):
    """Add a running (prefix) sum of ``value_col`` over a TOTAL order —
    the distributed form of ``SUM(v) OVER (ORDER BY ...)`` without the
    single-partition global window Spark would otherwise plan.

    Same two-job architecture as ``with_global_row_number`` (the r4
    scale fix): range-partition on the order keys, per-partition local
    cumsum inside one Arrow pass, then an O(P) per-partition TOTAL
    collect whose prefix sums broadcast back as offsets. ``order_by``
    must be a total order (or the per-partition sort is ambiguous);
    callers with duplicate keys should pre-aggregate to one row per
    key (which also makes tie semantics explicit). Values must be
    INTEGRAL (the running column is a long); for exact money/metric
    prefix sums scale to integer units first (the repo's milli-unit
    pattern) — float addition would be order-dependent and the
    output schema does not carry decimals. As with
    with_global_row_number, the range-partitioned frame is pinned with
    an eager localCheckpoint (not persist) so the totals pass and the
    downstream read see the SAME sampled boundaries even after block
    loss or a caller's clearCache — recomputation would resample the
    range boundaries and silently misalign the _pid-keyed offsets.
    With ``with_total`` returns (df, grand_total) — the total falls
    out of the O(P) offsets pass for free (with_global_row_number's
    with_total, sum form), sparing callers a separate corpus-scanning
    aggregate.

    Session discipline: the pinned checkpoint lives until the result
    frame is garbage-collected or ``unpersist()``-ed. A session
    chaining several large prefix-sum jobs must release each result
    before the next — holding every job's checkpoint concurrently
    GC-thrashed at 100M+ total resident rows in the 80M-row PPS
    stress run (SCALING.md, "Operational catch", r10 ladder).
    """
    import pandas as pd
    from pyspark.sql import types as T

    vtype = df.schema[value_col].dataType
    if not isinstance(
        vtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"global_running_sum needs an integral {value_col!r} "
            f"(got {vtype.simpleString()}); scale decimals/floats to "
            "integer units first"
        )
    if out_col in df.columns or "_pid" in df.columns:
        raise ValueError(
            f"global_running_sum: input already has a column named "
            f"{out_col!r} or '_pid' — rename it or pass a different "
            "out_col (the mapInPandas schema appends out_col and "
            "injects _pid)"
        )

    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )

    ranged = (
        df.repartitionByRange(num_partitions, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("_pid", F.spark_partition_id())
        .transform(checkpoint)
    )
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in ranged.schema.fields
    ) + f", {out_col} long"

    def cumsum_local(batches):
        acc = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = pdf[value_col].cumsum() + acc
            acc = int(pdf[out_col].iloc[-1]) if len(pdf) else acc
            yield pdf

    local = ranged.mapInPandas(cumsum_local, out_schema)

    totals = (
        ranged.groupBy("_pid").agg(F.sum(value_col).alias("_t")).collect()
    )  # O(P), not O(N)
    by_pid = {int(r["_pid"]): int(r["_t"] or 0) for r in totals}
    offsets, acc = [], 0
    for pid in sorted(by_pid):
        offsets.append((pid, acc))
        acc += by_pid[pid]
    if not offsets:
        out = local.drop("_pid")
        return (out, 0) if with_total else out
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    out = (
        local.join(broadcast_gate(spark)(off_df), "_pid")
        .withColumn(out_col, F.col(out_col) + F.col("_off"))
        .drop("_pid", "_off")
    )
    return (out, acc) if with_total else out
