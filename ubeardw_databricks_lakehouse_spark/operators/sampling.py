"""Deterministic sampling & dataset splitting for training-data prep.

A 100 TB corpus pipeline samples and splits constantly — quality
ablations, train/val/test carves, per-source mixing rates — and at
scale the sample must be (a) reproducible run-to-run, (b) stable under
repartitioning, and (c) pushdown-friendly. ``df.sample()`` is none of
these (seeded per-partition RNG moves with the partitioning), so every
operator here derives its randomness from a content hash of the row
key: the decision for a row is a pure function of (key, seed) and the
whole filter stays inside WholeStageCodegen — no UDF, no shuffle.

md5 (not xxhash64) so DuckDB/any engine reproduces the exact sample:
the bucket is ``conv(md5(seed|key)[:15], 16, 10) % n`` — the same
trick the MinHash operator uses (operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..core.session import broadcast_gate

#: bucket granularity — rates land on 1/10000 boundaries
N_BUCKETS = 10_000


def hash_bucket(key: Column | str, seed: str = "") -> Column:
    """Uniform bucket in [0, N_BUCKETS) from a content hash of the key.

    60-bit md5 slice (exactly portable to DuckDB — see module doc);
    uniform enough that a rate r keeps r*n rows within binomial noise.
    """
    c = F.col(key) if isinstance(key, str) else key
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(seed), c.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(N_BUCKETS)).cast("int")


def hash_sample(
    df: DataFrame, key: str, rate: float, seed: str = ""
) -> DataFrame:
    """Keep ~rate of rows, deterministically by key hash."""
    return df.filter(hash_bucket(key, seed) < int(rate * N_BUCKETS))


def stratified_hash_sample(
    df: DataFrame,
    key: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: str = "",
) -> DataFrame:
    """Per-stratum sampling rates (corpus mixing): keep a row when its
    bucket clears its stratum's threshold. One codegen'd filter — the
    rate table compiles to a CASE chain, so there is no join and the
    predicate pushes into the scan."""
    thresh = F.lit(int(default_rate * N_BUCKETS))
    for value, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(strata_col) == value, F.lit(int(rate * N_BUCKETS))
        ).otherwise(thresh)
    return df.filter(hash_bucket(key, seed) < thresh)


def assign_splits(
    df: DataFrame,
    key: str,
    fractions: dict[str, float],
    seed: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Disjoint deterministic splits (train/val/test): cumulative bucket
    ranges over one hash, so every row lands in exactly one split and
    membership never changes as the corpus grows (a doc's split is a
    function of its key alone)."""
    b = hash_bucket(key, seed)
    expr = None
    cum = 0
    for name, frac in fractions.items():  # caller-ordered carve
        cum += int(frac * N_BUCKETS)
        cond = b < cum
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(out_col, expr.otherwise(F.lit(list(fractions)[-1])))


def top_k_per_stratum(
    df: DataFrame, key: str, strata_col: str, k: int, seed: str = ""
) -> DataFrame:
    """Exactly-k uniform rows per stratum (deterministic reservoir):
    rank by key hash within the stratum, keep the k smallest. The
    window partitions by stratum, so work distributes across strata —
    no global ordering, no single-task funnel."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(seed), F.col(key).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(strata_col).orderBy(h, F.col(key))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def sqrt_mixing_thresholds(
    df: DataFrame, strata_col: str, target_frac: float = 0.5
) -> DataFrame:
    """Square-root temperature mixing rates per stratum (the public
    GPT-3/multilingual-corpus reweighting p_i ∝ n_i^α with α = 0.5):
    big sources are down-weighted, small sources up-weighted, scaled so
    the expected kept volume is ``target_frac`` of the corpus.

    Exactness discipline: sqrt is IEEE-correctly-rounded (identical in
    every engine), and it is immediately floored to integer
    milliweights, so every downstream quantity — total weight, per-row
    budget, bucket threshold — is a ratio of exact integers and the
    sampling decision reproduces bit-for-bit cross-engine.

    Returns (stratum, n_rows, bucket_thresh): keep a row when
    ``hash_bucket(key) < bucket_thresh``.
    """
    counts = df.groupBy(strata_col).agg(F.count("*").alias("n_rows"))
    weighted = counts.withColumn(
        "_w", F.floor(F.sqrt(F.col("n_rows")) * 1000).cast("long")
    )
    totals = weighted.agg(
        F.sum("_w").alias("_w_total"), F.sum("n_rows").alias("_n_total")
    )
    budget = F.floor(F.lit(target_frac) * F.col("_n_total")).cast("long")
    rate = F.least(
        F.lit(1.0),
        (budget * F.col("_w")).cast("double")
        / (F.col("_w_total") * F.col("n_rows")),
    )
    return (
        weighted.join(totals)
        .select(
            strata_col,
            "n_rows",
            F.floor(rate * N_BUCKETS).cast("int").alias("bucket_thresh"),
        )
    )


def sqrt_mixing_sample(
    df: DataFrame,
    key: str,
    strata_col: str,
    target_frac: float = 0.5,
    seed: str = "",
    thresholds: DataFrame | None = None,
) -> DataFrame:
    """Apply sqrt-temperature mixing: the per-stratum thresholds
    (|strata| rows, an aggregate Catalyst sizes at the corpus) broadcast
    back onto the corpus through ``broadcast_gate``; the keep decision
    stays a codegen'd filter.

    Pass a precomputed ``thresholds`` table (from
    ``sqrt_mixing_thresholds``, ideally checkpointed/materialized) when
    the caller also reads the thresholds itself — otherwise the
    per-stratum aggregation over the corpus runs once per reference
    (the amortization pattern shared with bm25_topk/ivfpq/cosupply)."""
    if thresholds is None:
        thresholds = sqrt_mixing_thresholds(df, strata_col, target_frac)
    brd = broadcast_gate(df.sparkSession)
    return (
        df.join(brd(thresholds.select(strata_col, "bucket_thresh")), strata_col)
        .filter(hash_bucket(key, seed) < F.col("bucket_thresh"))
        .drop("bucket_thresh")
    )


def pps_systematic_sample(
    df: DataFrame,
    key: str,
    weight_col: str,
    k: int,
    seed: str = "",
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: ~``k``
    rows where each row's selection probability is proportional to its
    INTEGER weight (min(w_i/T, 1) exactly, T = floor(W_total/k)) — the
    row-level weighted-mixing primitive ("sample documents proportional
    to token budget / quality mass") the stratum-level sqrt-mixing
    can't express.

    Exactness discipline (the sqrt-mixing precedent, extended): no
    pow/ln priority keys (u^(1/w) orderings are libm-dependent and NOT
    cross-engine reproducible) — instead classic systematic PPS over a
    hash-randomized order, all integer arithmetic end to end:

    1. order rows by the 60-bit md5 hash of (seed | key) — the
       deterministic random permutation every engine reproduces;
    2. integer cumulative weight via the distributed prefix sum
       (operators/ranking.global_running_sum — range partition +
       broadcast offsets, never a single-partition window);
    3. select the rows whose cumulative-weight interval
       (cumw - w, cumw] contains a multiple of T: integer division on
       both interval ends, one codegen'd filter.

    There are exactly ``W_total div T`` selection EVENTS (>= k; ~k
    when weights are small vs T); a row whose interval spans several
    multiples is selected once, so the ROW count is W_total div T
    minus those absorbed events — between k and k minus the number of
    extra multiples inside over-T rows. A row with w > T contains >= 1
    multiple and is selected with CERTAINTY — the standard PPS
    certainty-inclusion rule, pinned in tests. Weights must be a
    non-negative integral column (milli-unit scale floats first);
    w = 0 rows are never selected (empty interval).

    100 TB shape: one map pass for the hash, ONE range shuffle for the
    prefix sum, an O(P) offsets broadcast, a broadcast 1-row total,
    and a filter. Nothing driver-side beyond the partition offsets.

    Session discipline: the prefix sum takes an eager ``checkpoint``
    of the ordered frame (see global_running_sum). A long-lived
    session running several large sampling jobs should run each inside
    its own ``checkpoint_scope`` — holding many checkpointed frames
    concurrently GC-thrashed at 100M+ total resident rows in the
    80M-row stress run (SCALING.md, "Operational catch", r10 PPS
    ladder).
    """
    from pyspark.sql import types as T_

    wtype = df.schema[weight_col].dataType
    if not isinstance(
        wtype, (T_.ByteType, T_.ShortType, T_.IntegerType, T_.LongType)
    ):
        raise TypeError(
            f"pps_systematic_sample needs an integral {weight_col!r} "
            f"(got {wtype.simpleString()}); scale to integer units first"
        )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    for reserved in ("_h", "_cumw", "_tot"):
        if reserved in df.columns:
            raise ValueError(
                f"pps_systematic_sample: input already has a column "
                f"named {reserved!r}"
            )

    from .ranking import global_running_sum

    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit(seed), F.col(key).cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    base = df.withColumn("_h", h)
    # with_total: the grand total falls out of the prefix sum's O(P)
    # offsets pass — no separate corpus-scanning aggregate, and the
    # step lands in the filter as a LITERAL (no broadcast-join leg)
    run, w_total = global_running_sum(
        base, [F.col("_h"), F.col(key)], weight_col, out_col="_cumw",
        with_total=True,
    )
    step = max(int(w_total) // int(k), 1)
    # interval (cumw - w, cumw] contains a multiple of step  <=>
    # cumw div step > (cumw - w) div step (long `div` — exact integer
    # division in any engine; DuckDB spells it `//`)
    return (
        run.where(
            F.expr(f"_cumw div {step}")
            > F.expr(f"(_cumw - {weight_col}) div {step}")
        )
        .drop("_h", "_cumw")
    )
