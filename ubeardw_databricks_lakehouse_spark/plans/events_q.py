"""Event-stream query battery — the medallion pipeline's idioms mapped
onto the driver's ``events`` table (event_id, ts, user_id, event_type,
value, props JSON).

Covers: A4 conditional-max pivot (the trip_fact idiom), F1/F2 JSON
extraction, W2 lag/lead analytics, sessionization, SCD2-style change
history, frame-spec moving aggregates, and a Structured Streaming
aggregation with exact batch parity.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..core.session import broadcast_gate, checkpoint
from ..operators.event_pivot import event_pivot
from .common import dsum, ensure_read_confs, event_ts_expr, t

EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]

# ---------------------------------------------------------------------------
# q_user_lifecycle_pivot (A4 flagship): per-user conditional-max pivot —
# the exact trip_fact idiom on the driver's events. One hash agg, no sort.
# ---------------------------------------------------------------------------


def q_user_lifecycle_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return event_pivot(
        ev,
        keys=["user_id"],
        event_type_col="event_type",
        event_time_col="ts",
        event_types=EVENT_TYPES,
        extra_aggs=[
            F.count("*").alias("n_events"),
            dsum("value", "total_value"),
            F.count_distinct(F.col("event_type")).alias("n_event_types"),
        ],
    )


Q_USER_LIFECYCLE_PIVOT_SQL = """
SELECT user_id,
  MAX(CASE WHEN event_type = 'signup' THEN ts END) AS signup_at,
  MAX(CASE WHEN event_type = 'click' THEN ts END) AS click_at,
  MAX(CASE WHEN event_type = 'view' THEN ts END) AS view_at,
  MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_at,
  MAX(CASE WHEN event_type = 'error' THEN ts END) AS error_at,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
  COUNT(DISTINCT event_type) AS n_event_types
FROM events
GROUP BY user_id
"""

# ---------------------------------------------------------------------------
# q_props_json (F1/F2): JSON path extraction + typed aggregation.
# ---------------------------------------------------------------------------


def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


Q_PROPS_JSON_SQL = """
SELECT event_type, COUNT(*) AS n_events,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
"""

# ---------------------------------------------------------------------------
# q_sessionization (W2 + cumulative sum): 30-min-gap sessions. Two window
# passes over the same (user_id, ts) partitioning — one shuffle, reused.
# ---------------------------------------------------------------------------


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.floor(F.unix_micros(F.col("ts")) / 1_000_000)
    prev_sec = F.lag(sec).over(w)
    new_session = F.when(
        prev_sec.isNull() | ((sec - prev_sec) > 1800), F.lit(1)
    ).otherwise(F.lit(0))
    sessions = ev.withColumn(
        "session_seq",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event_id"),
        F.max("event_id").alias("last_event_id"),
        dsum("value", "session_value"),
    )


Q_SESSIONIZATION_SQL = """
WITH seq AS (
  SELECT user_id, event_id, value, ts,
    CASE WHEN LAG(FLOOR(EPOCH(ts))) OVER w IS NULL
              OR FLOOR(EPOCH(ts)) - LAG(FLOOR(EPOCH(ts))) OVER w > 1800
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, event_id, value,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM seq
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
  MIN(event_id) AS first_event_id, MAX(event_id) AS last_event_id,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
FROM numbered
GROUP BY user_id, session_seq
"""

# ---------------------------------------------------------------------------
# q_scd2_history (the SCD2 engine's change-detection semantics as a pure
# query): consecutive-distinct event_type runs per user, versioned.
# Oracle-checkable statement of operators/scd2.py's core logic.
# ---------------------------------------------------------------------------


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.col("event_type") != F.lag("event_type").over(w)),
        F.lit(1),
    ).otherwise(F.lit(0))
    runs = ev.withColumn(
        "version_number",
        F.sum(changed).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return runs.groupBy("user_id", "version_number").agg(
        F.min_by("event_type", "event_id").alias("event_type"),
        F.min("ts").alias("effective_start"),
        F.max("ts").alias("effective_end"),
        F.count("*").alias("n_events_in_version"),
    )


Q_SCD2_HISTORY_SQL = """
WITH marked AS (
  SELECT user_id, event_id, event_type, ts,
    CASE WHEN LAG(event_type) OVER w IS NULL
              OR event_type <> LAG(event_type) OVER w
         THEN 1 ELSE 0 END AS changed
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), versioned AS (
  SELECT user_id, event_id, event_type, ts,
    SUM(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version_number
  FROM marked
)
SELECT user_id, CAST(version_number AS BIGINT) AS version_number,
  MIN_BY(event_type, event_id) AS event_type,
  MIN(ts) AS effective_start,
  MAX(ts) AS effective_end,
  COUNT(*) AS n_events_in_version
FROM versioned
GROUP BY user_id, version_number
"""

# ---------------------------------------------------------------------------
# q_moving_value (frame spec rowsBetween): 3-row moving sum/avg per user.
# Exact decimal sum over the frame; division in double — deterministic.
# ---------------------------------------------------------------------------


def q_moving_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    msum = F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double")
    mcount = F.count("*").over(w)
    return ev.select(
        "user_id",
        "event_id",
        msum.alias("moving_sum"),
        (msum / mcount).alias("moving_avg"),
    )


Q_MOVING_VALUE_SQL = """
SELECT user_id, event_id,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS moving_sum,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) / COUNT(*) OVER w AS moving_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""

# ---------------------------------------------------------------------------
# q_streaming_event_counts (ST1/ST2): Structured Streaming over the same
# parquet, availableNow trigger, complete-mode agg into a memory sink —
# result must equal the batch/oracle aggregation exactly.
# ---------------------------------------------------------------------------


def q_streaming_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # raw on-disk schema (ts unused by this agg, so no normalization)
    src = os.path.join(sf_dir, "events.parquet")
    ensure_read_confs(spark)
    ev_schema = spark.read.parquet(src).schema
    sink = f"stream_counts_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as ckpt:
        # the file stream source requires a directory — expose the single
        # parquet file through a symlinked dir
        stream_dir = os.path.join(ckpt, "stream_src")
        os.makedirs(stream_dir)
        os.symlink(src, os.path.join(stream_dir, "events.parquet"))
        stream = (
            spark.readStream.schema(ev_schema)
            .parquet(stream_dir)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(12,2)"))
                .cast("double")
                .alias("total_value"),
            )
        )
        q = (
            stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


Q_STREAMING_EVENT_COUNTS_SQL = """
SELECT event_type, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q_daily_timeseries: date_trunc rollup — the dashboard time-series shape.
# ---------------------------------------------------------------------------


def q_daily_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_trunc("day", F.col("ts")).cast("date"))
        .groupBy("day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
            dsum("value", "total_value"),
        )
    )


Q_DAILY_TIMESERIES_SQL = """
SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, event_type,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# q_top_purchasers: filtered agg + global top-k with total ordering.
# ---------------------------------------------------------------------------


def q_top_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purchases"), dsum("value", "total_spend"))
    )
    # parallel top-k first (TakeOrderedAndProject), then rank the k
    # survivors — no global single-partition window over all users
    top = spend.orderBy(F.col("total_spend").desc(), F.col("user_id")).limit(10)
    w = Window.orderBy(F.col("total_spend").desc(), F.col("user_id"))
    return top.withColumn("rank", F.row_number().over(w))


Q_TOP_PURCHASERS_SQL = """
WITH spend AS (
  SELECT user_id, COUNT(*) AS n_purchases,
    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT user_id, n_purchases, total_spend, rank FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY total_spend DESC, user_id) AS rank FROM spend
)
WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# q_winsorized_stats: percentile outlier clipping (winsorization) of
# event values per event_type — the robust-stats cleaning pass before a
# numeric column feeds training. Spark's exact percentile() and
# DuckDB's PERCENTILE_CONT share the linear-interpolation definition
# bit-for-bit (probed), so boundaries, clip counts, and the
# DECIMAL-policy winsorized mass are all oracle-exact.
# ---------------------------------------------------------------------------


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import winsorize_summary

    ev = t(spark, sf_dir, "events")
    return winsorize_summary(ev, "value", "event_type")


Q_WINSORIZED_STATS_SQL = """
WITH bounds AS (
  SELECT event_type,
    PERCENTILE_CONT(0.01) WITHIN GROUP (ORDER BY value) AS p_lo,
    PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY value) AS p_hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  MIN(p_lo) AS p_lo,
  MIN(p_hi) AS p_hi,
  CAST(SUM(CASE WHEN value < p_lo THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clipped_low,
  CAST(SUM(CASE WHEN value > p_hi THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clipped_high,
  CAST(SUM(CAST(ROUND(LEAST(GREATEST(value, p_lo), p_hi), 6)
               AS DECIMAL(18,6))) AS DOUBLE) AS sum_winsorized
FROM events e JOIN bounds USING (event_type)
GROUP BY e.event_type
"""


# ---------------------------------------------------------------------------
# q_kmv_distinct: deterministic cardinality sketch — KMV (k minimum
# md5-hash values) distinct-user estimate per event_type, reported next
# to the exact count. The oracle-checkable counterpart to the rows-only
# HLL profile: md5 fractions are bit-identical cross-engine, so the
# ESTIMATE itself is exact-checked, and the estimate-vs-truth gap is
# visible in the row.
# ---------------------------------------------------------------------------


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_distinct

    ev = t(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    est = kmv_distinct(ev, "user_id", "event_type", k=64)
    return exact.join(est, "event_type")


Q_KMV_DISTINCT_SQL = """
WITH hashes AS (
  SELECT DISTINCT event_type,
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
      / CAST(POWER(16, 15) AS DOUBLE) AS h
  FROM events
),
mins AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
    FROM hashes
  ) WHERE rk <= 64
),
sk AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n_distinct_sketch,
    CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
         ELSE CAST(63 AS DOUBLE) / MAX(h) END AS kmv_estimate
  FROM mins GROUP BY event_type
),
exact AS (
  SELECT event_type,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT exact.event_type, exact_distinct, n_distinct_sketch, kmv_estimate
FROM exact JOIN sk ON exact.event_type = sk.event_type
"""


# ---------------------------------------------------------------------------
# q_event_quantiles: exact discrete quantiles per group via grouped
# applyInPandas (SURVEY §2.9 extension — custom grouped aggregation the
# built-ins don't express exactly). Oracle: DuckDB quantile_disc.
# ---------------------------------------------------------------------------


def q_event_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..core.session import ship_package

    ship_package(spark)
    ev = t(spark, sf_dir, "events").select("event_type", "value")

    def quantiles(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        v = np.sort(pdf["value"].to_numpy(dtype="float64"))
        # method='lower' == discrete quantile: an actual element, no
        # interpolation arithmetic -> bitwise engine-portable
        pick = lambda q: float(v[max(0, int(np.ceil(q * len(v))) - 1)])  # noqa: E731
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(v)],
                "p25": [pick(0.25)],
                "p50": [pick(0.50)],
                "p75": [pick(0.75)],
                "vmax": [float(v[-1])],
            }
        )

    return ev.groupBy("event_type").applyInPandas(
        quantiles, "event_type string, n long, p25 double, p50 double, p75 double, vmax double"
    )


Q_EVENT_QUANTILES_SQL = """
SELECT event_type, COUNT(*) AS n,
  QUANTILE_DISC(value, 0.25) AS p25,
  QUANTILE_DISC(value, 0.50) AS p50,
  QUANTILE_DISC(value, 0.75) AS p75,
  MAX(value) AS vmax
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q_user_event_arrays (declared surface: collect_list/array_agg):
# per-user sorted event-type array — deterministic via sort_array.
# ---------------------------------------------------------------------------


def q_user_event_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # total-order key as a zero-padded string: DuckDB's arg_min/arg_max
    # reject struct keys, and a lexicographic composite is identical in
    # both engines
    order_key = F.format_string("%020d-%010d", F.unix_micros(F.col("ts")), F.col("event_id"))
    # event_types is flattened to a '|'-joined string: the driver's
    # canonicalizer sorts result columns with pandas, which cannot hash
    # list cells (r2 harness err). The typed array variant stays
    # available via operators and pytest.
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set(F.col("event_type"))), "|").alias(
            "event_types"
        ),
        F.min_by(F.col("event_type"), order_key).alias("first_event_type"),
        F.max_by(F.col("event_type"), order_key).alias("last_event_type"),
        F.size(F.sort_array(F.collect_list(F.col("event_type")))).alias("n_events"),
    )


Q_USER_EVENT_ARRAYS_SQL = """
SELECT user_id,
  ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST(event_type))), '|') AS event_types,
  ARG_MIN(event_type, PRINTF('%020d-%010d', CAST(EPOCH_US(ts) AS BIGINT), event_id)) AS first_event_type,
  ARG_MAX(event_type, PRINTF('%020d-%010d', CAST(EPOCH_US(ts) AS BIGINT), event_id)) AS last_event_type,
  COUNT(event_type) AS n_events
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q_asof_attribution: as-of join — each purchase attributed to the
# user's most recent click at-or-before purchase time. DuckDB's native
# ASOF JOIN is the oracle for the union+window Spark plan.
# ---------------------------------------------------------------------------


def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id"), "ts"
    )
    # dedupe clicks at identical (user, ts) so the carried row is
    # deterministic in both engines (keep max event_id)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
        .withColumn("click_ts", F.col("ts"))  # carried payload copy
    )
    joined = asof_join(purchases, clicks, on=["user_id"])
    return joined.select(
        "event_id",
        "user_id",
        "click_event_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("click_ts"))).alias(
            "micros_since_click"
        ),
    )


Q_ASOF_ATTRIBUTION_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts AS click_ts, MAX(event_id) AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, c.click_event_id,
  CAST(epoch_us(p.ts) - epoch_us(c.click_ts) AS BIGINT) AS micros_since_click
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts
"""


# ---------------------------------------------------------------------------
# q_streaming_windowed_counts (ST4): tumbling 1-day windows under a
# 1-hour watermark, APPEND mode — only watermark-finalized windows
# emit. The oracle replicates the emission rule (window_end <=
# max_event_ts - delay), so the watermark semantics themselves are
# what gets checked.
# ---------------------------------------------------------------------------


def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = os.path.join(sf_dir, "events.parquet")
    ensure_read_confs(spark)
    ev_schema = spark.read.parquet(src).schema
    sink = f"stream_windows_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as ckpt:
        stream_dir = os.path.join(ckpt, "stream_src")
        os.makedirs(stream_dir)
        os.symlink(src, os.path.join(stream_dir, "events.parquet"))
        stream = (
            spark.readStream.schema(ev_schema)
            .parquet(stream_dir)
            .withColumn("ts", event_ts_expr(ev_schema))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
        )
        q = (
            stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink).select(
        F.col("w.start").alias("window_start"), "event_type", "n_events"
    )


Q_STREAMING_WINDOWED_COUNTS_SQL = """
WITH wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events)
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
  COUNT(*) AS n_events
FROM events, wm
WHERE CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY <= wm.w
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q_stream_attribution (ST extension): watermarked STREAM-STREAM interval
# join — clicks attributed to views by the same user within 1 hour. Inner
# stream-stream joins emit matches eagerly (watermarks only bound state),
# so with availableNow over a finite source the result equals the batch
# interval join — which is exactly what the oracle states.
# ---------------------------------------------------------------------------


def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import stream_stream_interval_join

    src = os.path.join(sf_dir, "events.parquet")
    ensure_read_confs(spark)
    ev_schema = spark.read.parquet(src).schema
    sink = f"stream_attr_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as ckpt:
        stream_dir = os.path.join(ckpt, "stream_src")
        os.makedirs(stream_dir)
        os.symlink(src, os.path.join(stream_dir, "events.parquet"))

        def _typed(kind: str, ts_name: str, id_name: str) -> DataFrame:
            return (
                spark.readStream.schema(ev_schema)
                .parquet(stream_dir)
                .filter(F.col("event_type") == kind)
                .select(
                    F.col("user_id"),
                    F.col("event_id").alias(id_name),
                    event_ts_expr(ev_schema).alias(ts_name),
                )
            )

        views = _typed("view", "view_ts", "view_id")
        clicks = _typed("click", "click_ts", "click_id")
        joined = stream_stream_interval_join(
            views, clicks,
            key="user_id", left_ts="view_ts", right_ts="click_ts",
            horizon="1 hour", watermark="2 hours",
        )
        out = joined.select(
            "user_id", "view_id", "click_id",
            (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("lag_us"),
        )
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


Q_STREAM_ATTRIBUTION_SQL = """
SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
  epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
FROM events v JOIN events c
  ON v.user_id = c.user_id
  AND v.event_type = 'view' AND c.event_type = 'click'
  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
"""


# ---------------------------------------------------------------------------
# q_error_after_purchase: range join — error events landing within 6h
# after a purchase by the same user (binned equi-join, no cross
# product). The oracle states it as the plain BETWEEN join.
# ---------------------------------------------------------------------------


def q_error_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import range_join_binned

    ev = t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_event_id"),
        F.unix_micros("ts").alias("err_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.unix_micros("ts").alias("p_lo"),
        (F.unix_micros("ts") + F.lit(21_600_000_000)).alias("p_hi"),
    )
    # derived bin width (r12 verdict #4): every interval spans exactly
    # 6h, so bin_width="auto" derives the same 21_600_000_000 the
    # hand-set constant carried (pinned in pytest); the join broadcasts
    # the error side at sf scale and hash-builds it at 64M+
    joined = range_join_binned(
        errors,
        purchases,
        point_col="err_us",
        lo_col="p_lo",
        hi_col="p_hi",
        bin_width="auto",
        extra_on=["user_id"],
    )
    return joined.select(
        "user_id",
        "purchase_event_id",
        "error_event_id",
        (F.col("err_us") - F.col("p_lo")).alias("micros_after_purchase"),
    )


Q_ERROR_AFTER_PURCHASE_SQL = """
SELECT e.user_id, p.event_id AS purchase_event_id,
  e.event_id AS error_event_id,
  epoch_us(e.ts) - epoch_us(p.ts) AS micros_after_purchase
FROM events e JOIN events p
  ON e.user_id = p.user_id
 AND e.event_type = 'error' AND p.event_type = 'purchase'
 AND epoch_us(e.ts) BETWEEN epoch_us(p.ts) AND epoch_us(p.ts) + 21600000000
"""


# ---------------------------------------------------------------------------
# q_time_rollup_multires: hypertable-style multi-resolution rollup —
# hour and day grains materialized in ONE pass via rollup grouping
# sets (one shuffle, partial aggs shared), not one query per grain.
# ---------------------------------------------------------------------------


def q_time_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    binned = ev.select(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        "value",
    )
    rolled = (
        binned.rollup("day", "hour")
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .filter(F.col("day").isNotNull())  # drop the grand-total row
    )
    return rolled.select(
        F.when(F.col("hour").isNull(), "day").otherwise("hour").alias("grain"),
        "day",
        "hour",
        "n_events",
        "total_value",
    )


Q_TIME_ROLLUP_MULTIRES_SQL = """
SELECT
  CASE WHEN GROUPING(hour) = 1 THEN 'day' ELSE 'hour' END AS grain,
  day, hour, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, value
  FROM events
)
GROUP BY GROUPING SETS ((day), (day, hour))
"""


# ---------------------------------------------------------------------------
# q_approx_profile: sketch aggregates (HLL distinct + quantile sketch).
# Rows-only BY DESIGN: sketch estimates are implementation-defined, so
# no engine-portable hash exists; error bounds vs exact answers are
# pytest-verified (tests/test_operators.py).
# ---------------------------------------------------------------------------


def q_approx_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import approx_profile

    ev = t(spark, sf_dir, "events")
    prof = approx_profile(
        ev, ["event_type"], distinct_col="user_id", quantile_col="value"
    )
    # Stringify the quantile array: even the driver's rows-only check
    # canonicalizes with pandas sort_values, which dies on list cells
    # (r2 harness err). Typed-array surface remains on the operator.
    return prof.withColumn(
        "approx_quantiles_value",
        F.array_join(
            F.transform(
                F.col("approx_quantiles_value"),
                lambda x: F.format_string("%.4f", x),
            ),
            "|",
        ),
    )


# ---------------------------------------------------------------------------
# q_funnel: ordered-step funnel (signup -> view -> click -> purchase).
# Each step's timestamp must FOLLOW the previous step's — computed as a
# chain of per-user conditional mins, each a narrow agg + user-keyed
# join (the standard decorrelation; no window over the whole event log).
# ---------------------------------------------------------------------------


def _first_touch_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user strictly-ordered first-touch chain (t_signup, t_view,
    t_click, t_purchase) — the shared core of q_funnel (counts) and
    q_conversion_latency (latency stats). Each stage is a narrow agg +
    user-keyed join; the previous stage is checkpointed because it
    feeds BOTH the strictly-after filter and the left join — without it
    each stage re-derives every earlier one (8 events scans for 4
    steps; ReuseExchange does not fire across the branches). The chain
    is |users| rows; events is scanned once per step, each a
    pushed-down event_type filter."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(prev: DataFrame, step: str, prev_col: str, out: str) -> DataFrame:
        prev = checkpoint(prev)
        nxt = (
            ev.where(F.col("event_type") == step)
            .join(prev, "user_id")
            .where(F.col("ts") > F.col(prev_col))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )
        return prev.join(nxt, "user_id", "left")

    t1 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    chain = first_after(t1, "view", "t_signup", "t_view")
    chain = first_after(chain, "click", "t_view", "t_click")
    return first_after(chain, "purchase", "t_click", "t_purchase")


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _first_touch_chain(spark, sf_dir).agg(
        F.count("t_signup").alias("n_signup"),
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
    )


Q_FUNNEL_SQL = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t_signup FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t_view
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'view' AND e.ts > t1.t_signup
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'click' AND e.ts > t2.t_view
  GROUP BY e.user_id
),
t4 AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN t3 ON e.user_id = t3.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t3.t_click
  GROUP BY e.user_id
)
SELECT COUNT(t1.user_id) AS n_signup,
  COUNT(t2.user_id) AS n_view,
  COUNT(t3.user_id) AS n_click,
  COUNT(t4.user_id) AS n_purchase
FROM t1
LEFT JOIN t2 ON t1.user_id = t2.user_id
LEFT JOIN t3 ON t1.user_id = t3.user_id
LEFT JOIN t4 ON t1.user_id = t4.user_id
"""


# ---------------------------------------------------------------------------
# q_retention_cohorts: weekly retention matrix — users bucketed by first-
# seen week, counted per weeks-since-cohort. Two narrow aggs + one
# user-keyed join; integer week arithmetic, engine-exact.
# ---------------------------------------------------------------------------


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = ev.distinct()
    return (
        active.join(first_seen, "user_id")
        .groupBy(
            F.to_date("cohort_week").alias("cohort_week"),
            (F.datediff(F.to_date("week"), F.to_date("cohort_week")) / 7)
            .cast("int")
            .alias("weeks_since"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


Q_RETENTION_COHORTS_SQL = """
WITH ev AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
),
first_seen AS (
  SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id
),
active AS (SELECT DISTINCT user_id, week FROM ev)
SELECT cohort_week,
  CAST((week - cohort_week) // 7 AS INTEGER) AS weeks_since,
  COUNT(DISTINCT a.user_id) AS n_active
FROM active a JOIN first_seen USING (user_id)
GROUP BY cohort_week, weeks_since
"""


# ---------------------------------------------------------------------------
# q_session_windows (ST4 extension): NATIVE session_window aggregation —
# gap-merged per-user sessions under a watermark, APPEND mode: only
# watermark-finalized sessions emit. Spark defines a session as
# [first_ts, last_ts + gap); merges are handled by the streaming state
# store (the declarative twin of streaming/stateful.streaming_sessionize's
# applyInPandasWithState). The oracle replays the full semantics:
# lag/cumsum gap-sessionization + the emission rule
# (session_end <= max_event_ts - delay), mirroring
# Q_STREAMING_WINDOWED_COUNTS_SQL's convention.
# ---------------------------------------------------------------------------


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = os.path.join(sf_dir, "events.parquet")
    ensure_read_confs(spark)
    ev_schema = spark.read.parquet(src).schema
    sink = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as ckpt:
        stream_dir = os.path.join(ckpt, "stream_src")
        os.makedirs(stream_dir)
        os.symlink(src, os.path.join(stream_dir, "events.parquet"))
        stream = (
            spark.readStream.schema(ev_schema)
            .parquet(stream_dir)
            .withColumn("ts", event_ts_expr(ev_schema))
            .withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"))
        )
        q = (
            stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink).select(
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "user_id",
        "n_events",
    )


Q_SESSION_WINDOWS_SQL = """
WITH o AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
              > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT user_id, ts,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
agg AS (
  SELECT user_id,
    MIN(ts) AS session_start,
    MAX(ts) + INTERVAL 30 MINUTE AS session_end,
    COUNT(*) AS n_events
  FROM s GROUP BY user_id, sid
),
wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events)
SELECT session_start, session_end, user_id, n_events
FROM agg, wm WHERE session_end <= wm.w
"""


# ---------------------------------------------------------------------------
# q_gapfill_daily: time-series regularization — per-user daily value
# series densified onto the full day grid between each user's first
# and last event, forward-filling across gap days. Grid generation is
# sequence()+explode at the executors; the fill is last(ignorenulls)
# over a KEY-partitioned window; sums are DECIMAL internally, then the
# FINAL value columns cast once to DOUBLE and the day bucket to DATE
# (the full plans/common policy — r5 proved raw-DECIMAL finals
# hash-red at the driver even with exact values).
# ---------------------------------------------------------------------------


def q_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import gapfill_ffill

    ev = t(spark, sf_dir, "events")
    out = gapfill_ffill(ev, "user_id", "ts", "value", step="day")
    return out.select(
        "user_id",
        F.col("bucket").cast("date").alias("day"),
        F.col("bucket_value").cast("double").alias("bucket_value"),
        F.col("filled_value").cast("double").alias("filled_value"),
        "observed",
    )


Q_GAPFILL_DAILY_SQL = """
WITH d AS (
  SELECT user_id, date_trunc('day', ts) AS day,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS bucket_value
  FROM events GROUP BY 1, 2
),
s AS (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx FROM d GROUP BY 1),
g AS (
  SELECT user_id, UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
  FROM s
),
j AS (
  SELECT g.user_id, g.day, d.bucket_value
  FROM g LEFT JOIN d ON g.user_id = d.user_id AND g.day = d.day
)
SELECT user_id, CAST(day AS DATE) AS day,
  CAST(bucket_value AS DOUBLE) AS bucket_value,
  CAST(CAST(LAST_VALUE(bucket_value IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING
  ) AS DECIMAL(18,6)) AS DOUBLE) AS filled_value,
  bucket_value IS NOT NULL AS observed
FROM j
"""


# ---------------------------------------------------------------------------
# q_interpolate_daily: linear-interpolation gap fill — the companion
# mode to q_gapfill_daily's forward fill. Gap days get the straight
# line between the surrounding observed days; the division rounds to
# 6 dp into DECIMAL (the only inexact step), then the FINAL value
# columns cast once to DOUBLE and the day bucket to DATE
# (plans/common policy — see q_gapfill_daily).
# ---------------------------------------------------------------------------


def q_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import gapfill_interpolate

    ev = t(spark, sf_dir, "events")
    out = gapfill_interpolate(ev, "user_id", "ts", "value", step="day")
    return out.select(
        "user_id",
        F.col("bucket").cast("date").alias("day"),
        F.col("bucket_value").cast("double").alias("bucket_value"),
        F.col("interp_value").cast("double").alias("interp_value"),
        "observed",
    )


Q_INTERPOLATE_DAILY_SQL = """
WITH d AS (
  SELECT user_id, date_trunc('day', ts) AS day,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS bucket_value
  FROM events GROUP BY 1, 2
),
s AS (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx FROM d GROUP BY 1),
g AS (
  SELECT user_id, UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
  FROM s
),
j AS (
  SELECT g.user_id, g.day, d.bucket_value,
    CAST(date_diff('day', DATE '1970-01-01', CAST(g.day AS DATE)) AS DOUBLE)
      AS pos
  FROM g LEFT JOIN d ON g.user_id = d.user_id AND g.day = d.day
),
w AS (
  SELECT user_id, day, bucket_value, pos,
    LAST_VALUE(CAST(bucket_value AS DOUBLE) IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING
    ) AS prev_v,
    FIRST_VALUE(CAST(bucket_value AS DOUBLE) IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
    ) AS next_v,
    LAST_VALUE(CASE WHEN bucket_value IS NOT NULL THEN pos END
      IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING
    ) AS prev_p,
    FIRST_VALUE(CASE WHEN bucket_value IS NOT NULL THEN pos END
      IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
    ) AS next_p
  FROM j
)
SELECT user_id, CAST(day AS DATE) AS day,
  CAST(bucket_value AS DOUBLE) AS bucket_value,
  CAST(CAST(CASE WHEN bucket_value IS NOT NULL
            THEN CAST(bucket_value AS DOUBLE)
       ELSE ROUND(prev_v + (next_v - prev_v) * (pos - prev_p)
                  / (next_p - prev_p), 6)
  END AS DECIMAL(18,6)) AS DOUBLE) AS interp_value,
  bucket_value IS NOT NULL AS observed
FROM w
"""


# ---------------------------------------------------------------------------
# q_event_transitions: first-order Markov transition matrix over each
# user's event sequence (extension — sequence mining: the "what do
# users do next" shape behind funnel design and next-event models).
# lag over (user_id, ts) gives the (prev -> next) pairs; the
# probability row-normalizes per prev state.
#
# Scale: one window shuffle on user_id (bounded per-user sequences),
# then a groupBy over at most |types|^2 rows — the transition matrix
# itself is tiny at any corpus size; the normalizing window runs over
# those few rows, not the events.
# ---------------------------------------------------------------------------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("transitions")
    )
    norm = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        F.col("transitions").cast("bigint").alias("transitions"),
        (
            F.col("transitions").cast("double")
            / F.sum("transitions").over(norm).cast("double")
        ).alias("prob"),
    ).orderBy("prev_type", "next_type")


Q_EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS next_type,
    LAG(event_type) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, next_type, COUNT(*) AS transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, CAST(transitions AS BIGINT) AS transitions,
  CAST(transitions AS DOUBLE) / CAST(SUM(transitions) OVER (
    PARTITION BY prev_type) AS DOUBLE) AS prob
FROM trans
ORDER BY prev_type, next_type
"""


# ---------------------------------------------------------------------------
# q_value_histogram: per-type equi-width histogram of event values
# (extension — the distribution-profiling shape behind data-quality
# dashboards and drift monitors). Bounds come from a per-type min/max
# agg joined back broadcast; the bucket index is pure row-local
# arithmetic, clamped so value == max lands in the last bucket.
# DuckDB (this build) lacks width_bucket, so BOTH engines compute the
# identical FLOOR((v-mn)*10/(mx-mn)) expression — same IEEE ops, same
# bits — rather than Spark's native width_bucket with subtly different
# edge semantics.
#
# Scale: two scans of events (one agg, one bucketize) and a broadcast
# join on the tiny bounds table, through ``broadcast_gate`` (the agg's
# estimate is the events scan's size); the groupBy output is |types| x 10.
#
# Degenerate distributions: a type whose values are all identical
# (mx == mn) has no width to bucket and is DROPPED from the profile —
# intentionally, and mirrored by the mx > mn predicate in the SQL twin.
# Callers profiling for constant-column detection should read the
# bounds agg (mn == mx) instead of inferring absence from this output.
# ---------------------------------------------------------------------------


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    bucket = F.least(
        F.floor(
            (F.col("value") - F.col("mn"))
            * F.lit(10.0)
            / (F.col("mx") - F.col("mn"))
        ).cast("int"),
        F.lit(9),
    )
    return (
        ev.join(broadcast_gate(spark)(bounds), "event_type")
        .filter(F.col("mx") > F.col("mn"))
        .select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy("event_type", "bucket")
    )


Q_VALUE_HISTOGRAM_SQL = """
WITH bounds AS (
  SELECT event_type, MIN(value) AS mn, MAX(value) AS mx
  FROM events GROUP BY event_type
)
SELECT e.event_type,
  LEAST(CAST(FLOOR((e.value - mn) * 10.0 / (mx - mn)) AS INT), 9) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS cnt
FROM events e JOIN bounds USING (event_type)
WHERE mx > mn
GROUP BY e.event_type, bucket
ORDER BY event_type, bucket
"""


# ---------------------------------------------------------------------------
# q_trailing_7day: time-RANGE window frame (extension — the one window
# frame kind the battery lacked: RANGE BETWEEN over event time, vs the
# ROWS frames in q_moving_value). Daily per-user totals with a trailing
# 7-day rolling sum — the retention/LTV dashboard shape. Spark's
# rangeBetween needs a numeric ORDER BY, so the frame runs over the
# day's epoch ordinal (datediff from a fixed origin); DuckDB expresses
# the identical frame as RANGE BETWEEN INTERVAL 6 DAY PRECEDING.
# Day sums aggregate as exact DECIMAL; the rolling sum folds those
# decimals and casts once at the surface (plans/common policy).
#
# Scale: two hash exchanges by design — the groupBy(user, day) one
# moves only PARTIAL aggregates (map-side combine runs below it), and
# the window's user_id re-exchange moves only |users|x|days| daily
# rows. The one-exchange alternative (repartition raw events by
# user_id so both the agg and the window reuse it) shuffles the full
# un-aggregated event stream — strictly more bytes at any scale where
# events-per-(user,day) > 1. Per-user day counts are bounded, so the
# window sort is cheap; the final ORDER BY is the only range exchange.
# ---------------------------------------------------------------------------


def q_trailing_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(12,2)")).alias("_dv"))
    day_ord = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(day_ord)
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "user_id",
        "day",
        F.col("_dv").cast("double").alias("day_value"),
        F.sum("_dv").over(w).cast("double").alias("trailing_7d"),
    ).orderBy("user_id", "day")


Q_TRAILING_7DAY_SQL = """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
    SUM(CAST(value AS DECIMAL(12,2))) AS dv
  FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
)
SELECT user_id, day, CAST(dv AS DOUBLE) AS day_value,
  CAST(SUM(dv) OVER (
    PARTITION BY user_id ORDER BY day
    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
  ) AS DOUBLE) AS trailing_7d
FROM daily
ORDER BY user_id, day
"""


# ---------------------------------------------------------------------------
# q_event_lift: market-basket association over event types at user
# grain (extension — support / confidence / lift, the classic
# co-occurrence rule mining surface, Agrawal & Srikant 1994 shape but
# for pairs): which event types co-occur in the same user's history
# more than independence predicts.
#
# All inputs to the final ratios are EXACT integer counts (distinct
# users per type / per pair / total), so the doubles are single
# divisions of the same integers in both engines — bit-identical.
# Lift deliberately stays a RATIO, not its log (PMI): a log's last ulp
# is libm-dependent across engines, a ratio of casts is not.
#
# Scale: user-distinct pairs via one self-join on user_id — per-user
# cost is |types-per-user|², bounded by the type vocabulary (not the
# event count); the per-type counts broadcast back through
# ``broadcast_gate`` (one row per type, sized at the pair set), the
# 1-row user total by the planner.
# ---------------------------------------------------------------------------


def q_event_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # localCheckpoint: ut feeds the user total, the per-type counts,
    # and BOTH legs of the self-join — four branches that would each
    # re-scan events and repeat the distinct shuffle.
    ut = (
        ev.select("user_id", "event_type")
        .distinct()
        .transform(checkpoint)
    )
    n_users = ut.select(
        F.count_distinct("user_id").alias("n_users")
    )
    per_type = ut.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_type")
    )
    brd = broadcast_gate(spark)
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    out = (
        pairs.join(
            brd(per_type).select(
                F.col("event_type").alias("type_a"),
                F.col("n_type").alias("n_a"),
            ),
            "type_a",
        )
        .join(
            brd(per_type).select(
                F.col("event_type").alias("type_b"),
                F.col("n_type").alias("n_b"),
            ),
            "type_b",
        )
        .crossJoin(n_users)
    )
    return out.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_ab",
        (F.col("n_ab").cast("double") / F.col("n_users")).alias("support"),
        (F.col("n_ab").cast("double") / F.col("n_a")).alias("confidence"),
        (
            (F.col("n_ab").cast("double") * F.col("n_users").cast("double"))
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("lift"),
    ).orderBy("type_a", "type_b")


Q_EVENT_LIFT_SQL = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
tot AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
per_type AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type FROM ut GROUP BY 1
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
    CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, ta.n_type AS n_a, tb.n_type AS n_b, p.n_ab,
  CAST(p.n_ab AS DOUBLE) / t.n_users AS support,
  CAST(p.n_ab AS DOUBLE) / ta.n_type AS confidence,
  (CAST(p.n_ab AS DOUBLE) * CAST(t.n_users AS DOUBLE))
    / (CAST(ta.n_type AS DOUBLE) * CAST(tb.n_type AS DOUBLE)) AS lift
FROM pairs p
JOIN per_type ta ON ta.event_type = p.type_a
JOIN per_type tb ON tb.event_type = p.type_b
CROSS JOIN tot t
ORDER BY type_a, type_b
"""


# ---------------------------------------------------------------------------
# q_mad_outliers: Hampel robust-outlier screen of event values per
# event_type — median + MAD instead of mean + stddev, so the screen is
# immune to the very outliers it hunts (the companion to
# q_winsorized_stats, which CLIPS; this one COUNTS and rates). Both
# medians are Spark's exact percentile() == DuckDB PERCENTILE_CONT
# (probed bit-identical); the deviation, the 3*MAD threshold, and the
# rate are single IEEE ops on those identical doubles.
# ---------------------------------------------------------------------------


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import mad_outlier_summary

    ev = t(spark, sf_dir, "events")
    return mad_outlier_summary(ev, "value", "event_type").orderBy(
        "event_type"
    )


Q_MAD_OUTLIERS_SQL = """
WITH med AS (
  SELECT event_type,
    PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY value) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, med, ABS(value - med) AS d
  FROM events e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type,
    PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY d) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  MIN(d.med) AS med,
  MIN(m.mad) AS mad,
  CAST(SUM(CASE WHEN d.d > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
    AS n_outliers,
  CAST(SUM(CASE WHEN d.d > 3.0 * m.mad THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS outlier_rate
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


# ---------------------------------------------------------------------------
# q_user_streaks: gaps-and-islands — per-user consecutive-active-day
# streaks (the engagement-streak metric, and the canonical
# "islands" idiom: day_ordinal - row_number() is constant within a
# consecutive run, so one window + one groupBy finds every island
# without a self-join). Everything is integer/date arithmetic —
# oracle-exact by construction.
#
# Scale: grain collapses to distinct user-days first (map-side), the
# window partitions by user (no global sort), and the island groupBy
# keys on (user, island) — all shuffles on the user key. The output is
# |users| rows.
# ---------------------------------------------------------------------------


def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date(F.col("ts")).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "island",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
        - F.row_number().over(w),
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count("*").cast("bigint").alias("len"),
        F.min("day").alias("start_day"),
    )
    # the longest streak's start via a total-order rank (len desc, then
    # latest start) — DuckDB's max_by takes no struct key, so BOTH
    # engines pick through the same deterministic row_number instead
    w2 = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.desc("start_day")
    )
    return (
        streaks.withColumn("rk", F.row_number().over(w2))
        .groupBy("user_id")
        .agg(
            F.sum("len").cast("bigint").alias("n_active_days"),
            F.count("*").cast("bigint").alias("n_streaks"),
            F.max("len").cast("bigint").alias("longest_streak"),
            F.max(
                F.when(F.col("rk") == 1, F.col("start_day"))
            ).alias("longest_start"),
        )
        .orderBy("user_id")
    )


Q_USER_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
islands AS (
  SELECT user_id, day,
    CAST(day - DATE '2024-01-01' AS BIGINT)
      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
    MIN(day) AS start_day
  FROM islands GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY len DESC, start_day DESC
  ) AS rk
  FROM streaks
)
SELECT user_id,
  CAST(SUM(len) AS BIGINT) AS n_active_days,
  CAST(COUNT(*) AS BIGINT) AS n_streaks,
  CAST(MAX(len) AS BIGINT) AS longest_streak,
  MAX(CASE WHEN rk = 1 THEN start_day END) AS longest_start
FROM ranked
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# q_conversion_latency: time-to-convert distribution per funnel step —
# for each user, the strictly-ordered first-touch chain signup -> view
# -> click -> purchase (the q_funnel chain), then per-step latency
# stats: converted count, median, p90, and mean seconds (extension —
# the "how long does each step take" half of funnel analytics; the
# count half lives in q_funnel).
#
# Latencies are exact BIGINT microseconds (unix_micros / epoch_us —
# no truncation-unit ambiguity between engines); percentile() ==
# PERCENTILE_CONT interpolates the same doubles (the winsorize probe),
# and every /1e6 rescale is one IEEE division applied identically in
# both engines. The mean divides the exact integer sum once.
#
# Scale: the chain is per-user conditional mins (narrow aggs + user-
# keyed joins — the q_funnel decorrelation, no window over the whole
# log); the stack unpivot is map-only; the final agg is 4 rows.
# ---------------------------------------------------------------------------


def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    lat = _first_touch_chain(spark, sf_dir).select(
        F.expr(
            "stack(4,"
            " '1_signup_to_view',   unix_micros(t_view) - unix_micros(t_signup),"
            " '2_view_to_click',    unix_micros(t_click) - unix_micros(t_view),"
            " '3_click_to_purchase',unix_micros(t_purchase) - unix_micros(t_click),"
            " '4_signup_to_purchase', unix_micros(t_purchase) - unix_micros(t_signup)"
            ") AS (step, lat_us)"
        )
    ).where(F.col("lat_us").isNotNull())
    return (
        lat.groupBy("step")
        .agg(
            F.count("*").cast("bigint").alias("n_converted"),
            (F.expr("percentile(lat_us, 0.5)") / F.lit(1e6)).alias(
                "median_s"
            ),
            (F.expr("percentile(lat_us, 0.9)") / F.lit(1e6)).alias("p90_s"),
            (
                F.sum("lat_us").cast("double")
                / F.count("*")
                / F.lit(1e6)
            ).alias("mean_s"),
        )
        .orderBy("step")
    )


Q_CONVERSION_LATENCY_SQL = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t_signup FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t_view
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'view' AND e.ts > t1.t_signup
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'click' AND e.ts > t2.t_view
  GROUP BY e.user_id
),
t4 AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN t3 ON e.user_id = t3.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t3.t_click
  GROUP BY e.user_id
),
chain AS (
  SELECT t1.user_id, t_signup, t_view, t_click, t_purchase
  FROM t1
  LEFT JOIN t2 ON t1.user_id = t2.user_id
  LEFT JOIN t3 ON t1.user_id = t3.user_id
  LEFT JOIN t4 ON t1.user_id = t4.user_id
),
lat AS (
  SELECT '1_signup_to_view' AS step,
    epoch_us(t_view) - epoch_us(t_signup) AS lat_us FROM chain
  UNION ALL
  SELECT '2_view_to_click',
    epoch_us(t_click) - epoch_us(t_view) FROM chain
  UNION ALL
  SELECT '3_click_to_purchase',
    epoch_us(t_purchase) - epoch_us(t_click) FROM chain
  UNION ALL
  SELECT '4_signup_to_purchase',
    epoch_us(t_purchase) - epoch_us(t_signup) FROM chain
)
SELECT step, CAST(COUNT(*) AS BIGINT) AS n_converted,
  PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY lat_us) / 1e6 AS median_s,
  PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY lat_us) / 1e6 AS p90_s,
  CAST(SUM(lat_us) AS DOUBLE) / COUNT(*) / 1e6 AS mean_s
FROM lat
WHERE lat_us IS NOT NULL
GROUP BY step
ORDER BY step
"""


# ---------------------------------------------------------------------------
# q_lag1_autocorr: lag-1 autocorrelation of event values per type
# (extension — the serial-dependence screen for time series: is this
# metric a random stream or does it trend? the windowed cousin of
# q_corr_profile, built on the SAME exact-sufficient-statistics
# machinery). Consecutive pairs come from lead() over the total order
# (ts, event_id); each value folds to exact integer MILLI-units
# (round-3 then x1e3 through decimal — Pearson is scale-invariant), so
# per-row products stay within BIGINT, the sums carry DECIMAL(38,0),
# and the final expression is the shared _pearson_from_sums — NULL on
# zero variance. TWO measured cross-engine boundaries set the unit:
# (a) DECIMAL(38,s>0) -> DOUBLE rescales after the int128 conversion
# in DuckDB (two roundings; low-bit drift seen at sf0.01), so sums
# carry scale 0; (b) DuckDB's int128 -> DOUBLE itself double-rounds
# via 64-bit limbs once the value exceeds 2^64 (probed: 0/1500
# mismatches at 64 bits, 256/1500 at 65), so the unit is sized to
# keep SUM(x*x) under 2^64 ~ 1.8e19 far past bench scale — milli^2
# x 2e6 pairs ~ 2e18 at sf10. The knob trades value resolution for
# rowcount headroom; past it, center per-partition first.
#
# Scale: one type-partitioned window pass (no global sort) + one
# partial-aggregating groupBy to |types| rows.
# ---------------------------------------------------------------------------


def q_lag1_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import _pearson_from_sums

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    milli = lambda c: (  # noqa: E731 — local fold, both engines mirror it
        F.round(c, 3).cast("decimal(18,3)") * 1000
    ).cast("bigint")
    pairs = (
        ev.select(
            "event_type",
            milli(F.col("value")).alias("x"),
            milli(F.lead("value").over(w)).alias("y"),
        )
        # BOTH sides non-null: a NULL value row would otherwise count
        # in n_pairs while every sum skipped its NULL term — a silently
        # wrong r (shared by the twin, so the oracle wouldn't catch it)
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    big = "decimal(38,0)"
    sums = pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.col("x").cast(big)).alias("sx"),
        F.sum(F.col("y").cast(big)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(big)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(big)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(big)).alias("syy"),
    )
    c = F.col
    return sums.select(
        "event_type",
        "n_pairs",
        _pearson_from_sums(
            c("n_pairs"), c("sx"), c("sy"), c("sxy"), c("sxx"), c("syy")
        ).alias("autocorr_lag1"),
    ).orderBy("event_type")


Q_LAG1_AUTOCORR_SQL = """
WITH pairs AS (
  SELECT event_type,
    CAST(CAST(ROUND(value, 3) AS DECIMAL(18,3)) * 1000 AS BIGINT) AS x,
    CAST(CAST(ROUND(LEAD(value) OVER (
      PARTITION BY event_type ORDER BY ts, event_id), 3)
      AS DECIMAL(18,3)) * 1000 AS BIGINT) AS y
  FROM events
),
sums AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
    SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
    SUM(CAST(y * y AS DECIMAL(38,0))) AS syy
  FROM pairs WHERE x IS NOT NULL AND y IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, n AS n_pairs,
  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
     / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
  END AS autocorr_lag1
FROM sums
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q_cusum_changepoint: CUSUM changepoint localization per event type —
# WHERE in the stream did the level shift? (extension — the
# changepoint class: q_chisq_drift asks IF two distributions differ,
# q_mad_outliers flags single points; this finds the time index that
# best splits the series, the classic mean-shift CUSUM peak.)
#
# The textbook statistic max_t |cum_t - t*mean| needs the (rational)
# mean; multiplying through by n makes it INTEGER-EXACT:
# D_t = n*cum_t - t*S over milli-unit values — products carried as
# DECIMAL(38,0) (19+19 digits caps exactly at both engines' width),
# the peak |D_t| and its argmin-t tiebreak are decimal/integer
# comparisons, and the one double is the final normalization
# D/(n*1000) (value-unit deviation mass; |D| <= ~6e14 at sf0.1, far
# inside the probed 2^64 cast envelope through ~sf100).
#
# Scale: two type-partitioned window passes over the same sort
# (running sum + row index, then the peak rank) and one groupBy to
# |types| rows. No global sort, no driver state.
# ---------------------------------------------------------------------------


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    dec = "decimal(19,0)"
    rows = ev.select(
        "event_type",
        "ts",
        "event_id",
        (F.round(F.col("value"), 3).cast("decimal(18,3)") * 1000)
        .cast("bigint")
        .alias("x"),
    ).select(
        "event_type",
        "ts",
        F.row_number().over(w).alias("t"),
        F.sum("x").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
        F.sum("x").over(Window.partitionBy("event_type")).alias("s"),
    )
    d = rows.withColumn(
        "absd",
        F.abs(
            F.col("n").cast(dec) * F.col("cum").cast(dec)
            - F.col("t").cast(dec) * F.col("s").cast(dec)
        ),
    )
    peak = Window.partitionBy("event_type").orderBy(
        F.desc("absd"), F.asc("t")
    )
    return (
        d.withColumn("rk", F.row_number().over(peak))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("t").cast("bigint").alias("cp_index"),
            F.col("ts").alias("cp_ts"),
            (
                F.col("absd").cast("double")
                / (F.col("n").cast("double") * F.lit(1000.0))
            ).alias("cusum_peak"),
        )
        .orderBy("event_type")
    )


Q_CUSUM_CHANGEPOINT_SQL = """
WITH rows_x AS (
  SELECT event_type, ts,
    CAST(CAST(ROUND(value, 3) AS DECIMAL(18,3)) * 1000 AS BIGINT) AS x,
    event_id
  FROM events
),
cums AS (
  SELECT event_type, ts,
    ROW_NUMBER() OVER (
      PARTITION BY event_type ORDER BY ts, event_id) AS t,
    SUM(x) OVER (
      PARTITION BY event_type ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    COUNT(*) OVER (PARTITION BY event_type) AS n,
    SUM(x) OVER (PARTITION BY event_type) AS s
  FROM rows_x
),
d AS (
  SELECT event_type, ts, t, n,
    ABS(CAST(n AS DECIMAL(19,0)) * CAST(cum AS DECIMAL(19,0))
        - CAST(t AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS absd
  FROM cums
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY event_type ORDER BY absd DESC, t ASC) AS rk
  FROM d
)
SELECT event_type,
  CAST(n AS BIGINT) AS n_events,
  CAST(t AS BIGINT) AS cp_index,
  ts AS cp_ts,
  CAST(absd AS DOUBLE) / (CAST(n AS DOUBLE) * 1000.0) AS cusum_peak
FROM ranked
WHERE rk = 1
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q_seasonal_decomposition: classical day-of-week seasonal index per
# event type (extension — the decomposition/forecast class the battery
# lacked: the multiplicative seasonal profile behind "traffic is 1.3x
# on Mondays" capacity dashboards and seasonal-naive forecast
# baselines; the seasonal leg of classical decomposition reduced to
# the weekly period the events table actually exhibits). Grain: daily
# event counts; per (event_type, iso_dow) the index is mean daily
# count on that weekday / grand mean daily count — index > 1 means the
# weekday runs hot.
#
# Engine-exactness: daily counts are exact BIGINTs; the index is a
# ratio of two single exact-integer divisions,
# (total/n_days) / (tot_all/days_all), each correctly rounded IEEE and
# composed in the same order in both plans (the battery's
# ratio-of-integers discipline — no avg(), no log). ISO weekday
# alignment probed: Spark weekday()+1 == DuckDB isodow() (Mon=1..
# Sun=7; Spark dayofweek() and DuckDB dayofweek() disagree on the
# origin, so neither is used).
#
# Scale: one groupBy to |event_type x dates| rows (map-side partial
# over the raw scan), one to |type x 7|, and a per-type totals join
# broadcast through ``broadcast_gate`` (one row per type, sized at the
# scan). Nothing row-scale survives the first partial
# aggregation.
# ---------------------------------------------------------------------------


def q_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").alias("n"))
    )
    per_type = daily.groupBy("event_type").agg(
        F.sum("n").alias("tot_all"), F.count("*").alias("days_all")
    )
    by_dow = (
        daily.withColumn("dow", (F.weekday("d") + F.lit(1)).cast("int"))
        .groupBy("event_type", "dow")
        .agg(
            F.sum("n").cast("bigint").alias("total_events"),
            F.count("*").cast("bigint").alias("n_days"),
        )
    )
    return (
        by_dow.join(broadcast_gate(spark)(per_type), "event_type")
        .select(
            "event_type",
            "dow",
            "n_days",
            "total_events",
            (
                (F.col("total_events").cast("double") / F.col("n_days"))
                / (F.col("tot_all").cast("double") / F.col("days_all"))
            ).alias("seasonal_index"),
        )
        .orderBy("event_type", "dow")
    )


Q_SEASONAL_DECOMPOSITION_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
per_type AS (
  SELECT event_type, SUM(n) AS tot_all, COUNT(*) AS days_all
  FROM daily GROUP BY 1
),
by_dow AS (
  SELECT event_type, CAST(isodow(d) AS INTEGER) AS dow,
    CAST(SUM(n) AS BIGINT) AS total_events,
    CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1, 2
)
SELECT b.event_type, dow, n_days, total_events,
  (CAST(total_events AS DOUBLE) / n_days)
    / (CAST(tot_all AS DOUBLE) / days_all) AS seasonal_index
FROM by_dow b JOIN per_type p ON b.event_type = p.event_type
ORDER BY b.event_type, dow
"""


# ---------------------------------------------------------------------------
# q_peak_concurrency (r9 — the interval-algebra class the battery
# lacked): peak number of SIMULTANEOUSLY active user sessions per day.
# Sessions are the standard 30-minute-gap sessionization (identical
# derivation to q_sessionization); concurrency is the sweep-line
# primitive (operators/timeseries.interval_concurrency): +1/-1 deltas
# aggregated per exact timestamp (tie-unambiguous), then a global
# running sum via range-partition + broadcast prefix offsets — never
# a single-partition window. "Peak per day" reads the curve at its
# boundary points, the well-defined discrete metric both engines
# reproduce bit-for-bit (all-integer arithmetic). Caveats, stated
# rather than hidden (both are facets of "the curve is sampled only
# at boundaries"): (1) a day containing NO boundary emits no row, so
# a day blanketed end-to-end by one session (possible only when a
# single session runs > 24 h uninterrupted under the 30-minute-gap
# rule) reports nothing rather than its carried concurrency; (2) a
# day whose boundaries are all DROPS understates its peak by the
# carry-in — e.g. 3 sessions active at 23:50 that end at 01:00 with
# no new starts next day: the true peak after midnight is 3, but the
# first boundary inside the day sits after the first drop, so the
# reported max is the post-drop value. Callers needing carried rows
# use interval_concurrency(densify_days=True), which injects a
# zero-delta midnight boundary per day so the sweep itself prices
# the carried level (pytest-pinned on exactly the 23:50→01:00 case);
# the registry metric stays the boundary-only reading because both
# engines share it exactly, including the caveats.
# ---------------------------------------------------------------------------


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.floor(F.unix_micros(F.col("ts")) / 1_000_000)
    prev_sec = F.lag(sec).over(w)
    new_session = F.when(
        prev_sec.isNull() | ((sec - prev_sec) > 1800), F.lit(1)
    ).otherwise(F.lit(0))
    sess = (
        ev.withColumn(
            "session_seq",
            F.sum(new_session).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    from ..operators.timeseries import interval_concurrency

    curve = interval_concurrency(sess, "start_ts", "end_ts")
    return (
        curve.groupBy(F.to_date("ts").alias("day"))
        .agg(F.max("concurrent").cast("bigint").alias("peak_concurrent"))
        .orderBy("day")
    )


Q_PEAK_CONCURRENCY_SQL = """
WITH seq AS (
  SELECT user_id, event_id, ts,
    CASE WHEN LAG(FLOOR(EPOCH(ts))) OVER w IS NULL
              OR FLOOR(EPOCH(ts)) - LAG(FLOOR(EPOCH(ts))) OVER w > 1800
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM seq
), sess AS (
  SELECT user_id, session_seq, MIN(ts) AS start_ts, MAX(ts) AS end_ts
  FROM numbered GROUP BY user_id, session_seq
), deltas AS (
  SELECT start_ts AS ts, 1 AS d FROM sess
  UNION ALL
  SELECT end_ts + INTERVAL 1 SECOND AS ts, -1 AS d FROM sess
), dg AS (
  SELECT ts, SUM(d) AS d FROM deltas GROUP BY ts
), curve AS (
  SELECT ts, SUM(d) OVER (ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS concurrent
  FROM dg
)
SELECT CAST(ts AS DATE) AS day, CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent
FROM curve GROUP BY 1 ORDER BY 1
"""
