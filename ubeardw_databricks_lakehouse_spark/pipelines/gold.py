"""Gold layer — Kimball star schema: SCD2 dims, static dims, trip_fact.

Re-expresses pipelines/gold_pipeline.py (reference) as composable batch
builders over a Lakehouse. Functional parity notes:

- dim_location (ref :236-343): address union + dedup, simulated
  geocoding, geohash/H3/timezone enrichment, neighborhood/region_zone
  mapping. Two deliberate divergences, both recorded in SURVEY.md §4:
  (1) the reference jitters coordinates with ``rand()`` — we derive the
  jitter from ``xxhash64(address)`` so results are deterministic and
  oracle-testable; (2) the reference's global-window ``row_number()``
  surrogate key is a single-task sort at scale — we use a hash
  surrogate over the dedup key.
- SCD2 dims eater/merchant/courier (ref :350-546): metric aggregation
  from trip_events, tiering case-expressions, SCD2 merge.
- dim_date / dim_time (ref :555-627): sequence+explode generators.
- trip_fact (ref :637-798): address-match joins, conditional-max event
  pivot, derived status/durations/payout, coalesce defaults, MERGE
  upsert guarded on ``source.updated_at > target.updated_at``.

Scale notes: metric aggregations are single-shuffle partial aggs on the
entity key; dim joins broadcast by size (dims << fact); trip_fact is
partitioned by (date_partition, region_partition) exactly like the
reference so partition pruning serves the dashboard queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import geohash8, h3_index, timezone_from_coords
from ..operators.event_pivot import event_pivot
from ..operators.scd2 import apply_scd2
from ..storage.lakehouse import Lakehouse

# ---------------------------------------------------------------------------
# dim_location
# ---------------------------------------------------------------------------

_CITY_COORDS = {
    "Paris": (48.8566, 2.3522),
    "Lyon": (45.7640, 4.8357),
    "Marseille": (43.2965, 5.3698),
}


def _jitter(*cols: str) -> F.Column:
    """Deterministic stand-in for the reference's rand()*0.1-0.05 jitter."""
    h = F.pmod(F.xxhash64(*[F.coalesce(F.col(c), F.lit("")) for c in cols]), F.lit(10000))
    return h / F.lit(10000.0) * F.lit(0.1) - F.lit(0.05)


def build_dim_location(
    eater_silver: DataFrame, merchant_silver: DataFrame
) -> DataFrame:
    addr_cols = [
        "address_line_1",
        "address_line_2",
        "city",
        "state_province",
        "postal_code",
        "country",
    ]
    eater_addr = eater_silver.select(*addr_cols, F.lit("dropoff").alias("location_type"))
    merch_addr = merchant_silver.select(*addr_cols, F.lit("pickup").alias("location_type"))
    # Deterministic dedup: when an eater and a merchant share an address,
    # 'pickup' survives (the reference's bare dropDuplicates keeps an
    # arbitrary side, flipping output run-to-run — determinism policy fix).
    from pyspark.sql.window import Window

    w = Window.partitionBy("address_line_1", "city", "postal_code").orderBy(
        F.col("location_type").desc()
    )
    all_addr = (
        eater_addr.union(merch_addr)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    lat_expr = None
    lon_expr = None
    for city, (la, lo) in _CITY_COORDS.items():
        cond = F.col("city") == city
        j = _jitter("address_line_1", "city")
        branch_lat = F.lit(la) + j
        branch_lon = F.lit(lo) + _jitter("city", "address_line_1")
        lat_expr = (
            F.when(cond, branch_lat) if lat_expr is None else lat_expr.when(cond, branch_lat)
        )
        lon_expr = (
            F.when(cond, branch_lon) if lon_expr is None else lon_expr.when(cond, branch_lon)
        )
    lat = lat_expr.otherwise(F.lit(48.8566))
    lon = lon_expr.otherwise(F.lit(2.3522))

    located = all_addr.withColumn("latitude", lat).withColumn("longitude", lon)
    enriched = (
        located.withColumn("geohash", geohash8(F.col("latitude"), F.col("longitude")))
        .withColumn("h3_index", h3_index(F.col("latitude"), F.col("longitude")))
        .withColumn(
            "timezone", timezone_from_coords(F.col("latitude"), F.col("longitude"))
        )
    )
    paris_hood = (
        F.when(F.col("postal_code").startswith("75001"), "Louvre")
        .when(F.col("postal_code").startswith("75002"), "Bourse")
        .when(F.col("postal_code").startswith("75004"), "Marais")
        .when(F.col("postal_code").startswith("75008"), "Champs-Elysees")
        .when(F.col("postal_code").startswith("75009"), "Opera")
        .otherwise("Centre")
    )
    final = (
        enriched.withColumn(
            "neighborhood",
            F.when(F.col("city") == "Paris", paris_hood)
            .when(F.col("city") == "Lyon", "Centre-Ville")
            .when(F.col("city") == "Marseille", "Vieux-Port")
            .otherwise(F.col("city")),
        )
        .withColumn(
            "region_zone",
            F.when(F.col("state_province") == "Ile-de-France", "paris-region")
            .when(F.col("state_province") == "Auvergne-Rhone-Alpes", "lyon-region")
            .when(F.col("state_province") == "Provence-Alpes-Cote", "marseille-region")
            .otherwise("other"),
        )
        .withColumn("is_high_rise", F.lit(False))
        .withColumn("has_doorman", F.lit(False))
        .withColumn("special_instructions", F.lit(None).cast("string"))
        # Hash surrogate key over the dedup key — shuffle-free, stable across
        # runs, no single-task global sort (fixes reference W1 hazard).
        .withColumn(
            "location_id",
            F.xxhash64(
                F.coalesce(F.col("address_line_1"), F.lit("")),
                F.coalesce(F.col("city"), F.lit("")),
                F.coalesce(F.col("postal_code"), F.lit("")),
            ),
        )
    )
    return final.select(
        "location_id",
        "address_line_1",
        "address_line_2",
        "city",
        "state_province",
        "postal_code",
        "country",
        "latitude",
        "longitude",
        "geohash",
        "h3_index",
        "neighborhood",
        "region_zone",
        "location_type",
        "is_high_rise",
        "has_doorman",
        "special_instructions",
        "timezone",
    )


# ---------------------------------------------------------------------------
# SCD2 dimensions with trip-event metrics
# ---------------------------------------------------------------------------

EATER_COMPARE_COLS = [
    "first_name",
    "last_name",
    "email",
    "phone_number",
    "address_line_1",
    "address_line_2",
    "city",
    "state_province",
    "postal_code",
    "country",
    "default_payment_method",
]

MERCHANT_COMPARE_COLS = [
    "name",
    "email",
    "phone_number",
    "business_type",
    "cuisine_type",
    "address_line_1",
    "address_line_2",
    "city",
    "state_province",
    "postal_code",
    "country",
    "operating_hours",
    "is_currently_active",
]

COURIER_COMPARE_COLS = [
    "first_name",
    "last_name",
    "email",
    "phone_number",
    "vehicle_type",
    "license_plate",
    "is_active",
]


def eater_with_metrics(eater_silver: DataFrame, trip_events_silver: DataFrame) -> DataFrame:
    """Lifetime metrics + loyalty/segment tiering (ref :358-399)."""
    metrics = (
        trip_events_silver.groupBy("eater_id")
        .agg(
            F.count("*").alias("total_lifetime_orders"),
            F.round(F.sum("total_amount"), 2).alias("total_lifetime_spend"),
            F.round(F.avg("total_amount"), 2).alias("average_order_value"),
            F.first("merchant_id").alias("favorite_merchant_id"),
            F.avg("eater_rating").alias("avg_rating_given"),
            F.countDistinct("order_id").alias("distinct_orders"),
        )
    )
    return (
        eater_silver.join(metrics, "eater_id", "left")
        .withColumn(
            "loyalty_tier",
            F.when(F.col("total_lifetime_orders") >= 50, "platinum")
            .when(F.col("total_lifetime_orders") >= 25, "gold")
            .when(F.col("total_lifetime_orders") >= 10, "silver")
            .otherwise("bronze"),
        )
        .withColumn(
            "customer_segment",
            F.when(F.col("average_order_value") >= 50, "premium")
            .when(F.col("average_order_value") >= 30, "regular")
            .otherwise("occasional"),
        )
        .withColumn("is_eats_pass_member", F.lit(False))
        .withColumn("preferred_cuisine", F.lit("French"))
        .withColumn("dietary_preferences", F.lit(None).cast("string"))
        .withColumn("account_created_date", F.to_date(F.col("created_at")))
    )


def merchant_with_metrics(
    merchant_silver: DataFrame, trip_events_silver: DataFrame
) -> DataFrame:
    """Rating/prep-time metrics + price-range/tier (ref :421-478)."""
    metrics = (
        trip_events_silver.groupBy("merchant_id")
        .agg(
            F.round(F.avg("merchant_rating"), 2).alias("overall_rating"),
            F.count(F.when(F.col("merchant_rating").isNotNull(), 1)).alias(
                "total_ratings_count"
            ),
            F.round(F.avg("preparation_time_minutes"), 0)
            .cast("int")
            .alias("average_preparation_minutes"),
            F.count("*").alias("total_orders_completed"),
        )
    )
    return (
        merchant_silver.join(metrics, "merchant_id", "left")
        .withColumn(
            "price_range",
            F.when(F.col("cuisine_type").isin("french", "japanese"), "$$$")
            .when(F.col("cuisine_type") == "italian", "$$")
            .otherwise("$$"),
        )
        .withColumn(
            "merchant_tier",
            F.when(F.col("overall_rating") >= 4.5, "premium")
            .when(F.col("overall_rating") >= 4.0, "standard")
            .otherwise("basic"),
        )
        .withColumn("is_partner_merchant", F.lit(True))
        .withColumn("commission_rate", F.lit(18.00))
        .withColumn("merchant_onboarding_date", F.to_date(F.col("created_at")))
        .withColumn("accepts_cash", F.lit(False))
        .withColumn("menu_item_count", F.lit(35))
        .withColumn("average_item_price", F.lit(15.50))
        .withColumn("is_currently_active", F.col("is_active"))
        .withColumn("cuisine_subtypes", F.lit(None).cast("string"))
    )


def courier_with_metrics(
    courier_silver: DataFrame, trip_events_silver: DataFrame
) -> DataFrame:
    """Delivery metrics + on-time rate + tiering (ref :487-546)."""
    metrics = (
        trip_events_silver.groupBy("courier_id")
        .agg(
            F.count("*").alias("total_deliveries_completed"),
            F.round(F.avg("courier_rating"), 2).alias("overall_rating"),
            F.round(F.avg("delivery_time_minutes"), 2).alias(
                "average_delivery_time_minutes"
            ),
            F.round(F.sum("total_amount"), 2).alias("total_lifetime_earnings"),
            F.round(
                F.count(F.when(F.col("delivery_time_minutes") <= 30, 1))
                / F.count("*")
                * 100,
                2,
            ).alias("on_time_delivery_rate"),
            F.round(F.count("*") / F.count("*") * 100, 2).alias("acceptance_rate"),
        )
    )
    return (
        courier_silver.join(metrics, "courier_id", "left")
        .withColumn(
            "courier_tier",
            F.when(F.col("overall_rating") >= 4.8, "platinum")
            .when(F.col("overall_rating") >= 4.5, "gold")
            .when(F.col("overall_rating") >= 4.0, "silver")
            .otherwise("bronze"),
        )
        .withColumn("preferred_delivery_hours", F.lit("11:00-14:00,18:00-22:00"))
        .withColumn("has_insulated_bag", F.lit(True))
        .withColumn("background_check_date", F.col("onboarding_date"))
    )


# ---------------------------------------------------------------------------
# Static dimensions
# ---------------------------------------------------------------------------


def generate_dim_date(
    spark: SparkSession, start_date: str = "2020-01-01", end_date: str = "2030-12-31"
) -> DataFrame:
    """sequence/explode day calendar + date parts (ref :555-582).

    4,018 rows for the default range — the reference's validation suite
    wrongly asserts 3,653 (SURVEY.md §4 hazards); 4,018 is correct.
    """
    days = spark.sql(
        f"SELECT explode(sequence(to_date('{start_date}'), to_date('{end_date}'), "
        "interval 1 day)) AS full_date"
    )
    return (
        days.withColumn("date_key", F.date_format("full_date", "yyyyMMdd").cast("int"))
        .withColumn("day_of_week", F.dayofweek("full_date"))
        .withColumn("day_name", F.date_format("full_date", "EEEE"))
        .withColumn("is_weekend", F.col("day_of_week").isin(1, 7))
        .withColumn("week_of_year", F.weekofyear("full_date"))
        .withColumn("month_number", F.month("full_date"))
        .withColumn("month_name", F.date_format("full_date", "MMMM"))
        .withColumn("quarter", F.quarter("full_date"))
        .withColumn("year", F.year("full_date"))
        .withColumn("fiscal_year", F.year("full_date"))
        .withColumn("fiscal_quarter", F.quarter("full_date"))
        .withColumn("is_holiday", F.lit(False))
        .withColumn("holiday_name", F.lit(None).cast("string"))
    )


def generate_dim_time(spark: SparkSession) -> DataFrame:
    """Minute-of-day dimension, 1,440 rows (ref :591-627)."""
    minutes = spark.sql("SELECT explode(sequence(0, 1439)) AS minute")
    return (
        minutes.withColumn("hour_24", (F.col("minute") / 60).cast("int"))
        .withColumn("minute_val", (F.col("minute") % 60).cast("int"))
        .withColumn("time_key", F.col("hour_24") * 100 + F.col("minute_val"))
        .withColumn(
            "hour_12",
            F.when(F.col("hour_24") == 0, 12)
            .when(F.col("hour_24") > 12, F.col("hour_24") - 12)
            .otherwise(F.col("hour_24")),
        )
        .withColumn("am_pm", F.when(F.col("hour_24") < 12, "AM").otherwise("PM"))
        .withColumn(
            "time_value",
            F.concat(
                F.lpad(F.col("hour_24").cast("string"), 2, "0"),
                F.lit(":"),
                F.lpad(F.col("minute_val").cast("string"), 2, "0"),
            ),
        )
        .withColumn(
            "time_period",
            F.when(F.col("hour_24").between(0, 5), "Night")
            .when(F.col("hour_24").between(6, 11), "Morning")
            .when(F.col("hour_24").between(12, 17), "Afternoon")
            .when(F.col("hour_24").between(18, 21), "Evening")
            .otherwise("Late Night"),
        )
        .withColumn(
            "is_peak_hour",
            F.col("hour_24").between(11, 14) | F.col("hour_24").between(18, 21),
        )
        .select(
            "time_key",
            "time_value",
            "hour_24",
            "hour_12",
            "am_pm",
            F.col("minute_val").alias("minute"),
            "time_period",
            "is_peak_hour",
        )
    )


# ---------------------------------------------------------------------------
# trip_fact
# ---------------------------------------------------------------------------

TRIP_FACT_METRICS = [
    "subtotal_amount",
    "delivery_fee",
    "service_fee",
    "tax_amount",
    "tip_amount",
    "total_amount",
    "distance_miles",
    "preparation_time_minutes",
    "delivery_time_minutes",
    "is_group_order",
    "promo_code",
    "discount_amount",
    "eater_rating",
    "courier_rating",
    "merchant_rating",
    "weather_condition",
]

from ..core.schemas import TRIP_EVENT_TYPES  # noqa: E402


def build_trip_fact(
    trip_events_silver: DataFrame,
    eater_silver: DataFrame,
    merchant_silver: DataFrame,
    dim_location: DataFrame,
) -> DataFrame:
    """Event log -> one row per trip (ref :637-771).

    The entity and location joins broadcast when the planner's
    statistics put the dim side under the session's broadcast threshold
    (dims << fact; no hint, so a session with broadcasts disabled
    shuffles them instead); the pivot is one hash aggregation on
    trip_id.
    """
    pickup_dim = (
        dim_location.filter(F.col("location_type") == "pickup").select(
            F.col("location_id").alias("pickup_location_id"),
            F.col("address_line_1").alias("pickup_addr"),
            F.col("city").alias("pickup_city"),
        )
    )
    dropoff_dim = (
        dim_location.filter(F.col("location_type") == "dropoff").select(
            F.col("location_id").alias("dropoff_location_id"),
            F.col("address_line_1").alias("dropoff_addr"),
            F.col("city").alias("dropoff_city"),
            F.col("region_zone"),
        )
    )
    with_pickup = (
        trip_events_silver.join(
            merchant_silver.select("merchant_id", "address_line_1", "city"),
            "merchant_id",
            "left",
        )
        .join(
            pickup_dim,
            (F.col("address_line_1") == F.col("pickup_addr"))
            & (F.col("city") == F.col("pickup_city")),
            "left",
        )
        .drop("address_line_1", "city", "pickup_addr", "pickup_city")
    )
    with_locations = (
        with_pickup.join(
            eater_silver.select("eater_id", "address_line_1", "city"),
            "eater_id",
            "left",
        )
        .join(
            dropoff_dim,
            (F.col("address_line_1") == F.col("dropoff_addr"))
            & (F.col("city") == F.col("dropoff_city")),
            "left",
        )
        .drop("address_line_1", "city", "dropoff_addr", "dropoff_city")
    )

    # Grain fix (documented divergence): the reference groups by courier_id
    # too (gold_pipeline.py:676-677), but pre-dispatch events carry NULL
    # courier_id, so each trip splits into a NULL-courier and an assigned-
    # courier group — 5 rows for its own 3-trip demo instead of the 3 its
    # README publishes. We group on the true grain (trip_id) and take max()
    # of the stable attributes, which restores the documented behavior.
    pivoted = event_pivot(
        with_locations,
        keys=["trip_id", "order_id"],
        event_type_col="event_type",
        event_time_col="event_time",
        event_types=TRIP_EVENT_TYPES,
        max_metrics=TRIP_FACT_METRICS
        + [
            "eater_id",
            "merchant_id",
            "courier_id",
            "pickup_location_id",
            "dropoff_location_id",
            "region_zone",
        ],
        extra_aggs=[F.max("event_time").alias("updated_at")],
    )

    derived = (
        pivoted.withColumn("date_partition", F.to_date(F.col("order_placed_at")))
        .withColumn(
            "trip_status",
            F.when(F.col("cancelled_at").isNotNull(), "cancelled")
            .when(F.col("delivered_at").isNotNull(), "completed")
            .when(F.col("dropoff_arrived_at").isNotNull(), "in_delivery")
            .when(F.col("pickup_completed_at").isNotNull(), "picked_up")
            .when(F.col("courier_dispatched_at").isNotNull(), "dispatched")
            .when(F.col("order_accepted_at").isNotNull(), "accepted")
            .otherwise("pending"),
        )
        .withColumn(
            "total_time_minutes",
            F.when(
                F.col("delivered_at").isNotNull(),
                (
                    F.col("delivered_at").cast("long")
                    - F.col("order_placed_at").cast("long")
                )
                / 60,
            ),
        )
        .withColumn(
            "courier_payout",
            F.when(F.col("total_amount").isNotNull(), F.col("total_amount") * 0.15),
        )
    )

    zero = F.lit(0)

    def money(c: str) -> F.Column:
        # DW DDL declares DECIMAL(12,2) for money while the pipelines
        # carried Double (SURVEY.md §1.2) — Gold standardizes on the
        # declared decimal type, defaulting nulls to 0.00.
        return (
            F.coalesce(F.col(c), F.lit(0.0)).cast("decimal(12,2)").alias(c)
        )

    return derived.select(
        "trip_id",
        "order_id",
        "eater_id",
        "merchant_id",
        "courier_id",
        F.coalesce("pickup_location_id", zero).alias("pickup_location_id"),
        F.coalesce("dropoff_location_id", zero).alias("dropoff_location_id"),
        "order_placed_at",
        "order_accepted_at",
        "courier_dispatched_at",
        "pickup_arrived_at",
        "pickup_completed_at",
        "dropoff_arrived_at",
        "delivered_at",
        "cancelled_at",
        money("subtotal_amount"),
        money("delivery_fee"),
        money("service_fee"),
        money("tax_amount"),
        money("tip_amount"),
        money("total_amount"),
        money("courier_payout"),
        F.coalesce("distance_miles", zero).alias("distance_miles"),
        F.coalesce("preparation_time_minutes", zero).alias("preparation_time_minutes"),
        F.coalesce("delivery_time_minutes", zero).alias("delivery_time_minutes"),
        F.coalesce("total_time_minutes", zero).alias("total_time_minutes"),
        "trip_status",
        F.lit(1).alias("version_number"),
        F.coalesce("is_group_order", F.lit(False)).alias("is_group_order"),
        F.col("promo_code").alias("promo_code_used"),
        money("discount_amount"),
        "eater_rating",
        "courier_rating",
        "merchant_rating",
        "date_partition",
        F.coalesce("region_zone", F.lit("other")).alias("region_partition"),
        "weather_condition",
        "updated_at",
    )


# ---------------------------------------------------------------------------
# Orchestration: the daily gold job (ref: jobs/batch_job.json DAG)
# ---------------------------------------------------------------------------


def run_gold_job(
    lake: Lakehouse,
    eater_silver: DataFrame,
    merchant_silver: DataFrame,
    courier_silver: DataFrame,
    trip_events_silver: DataFrame,
    effective_ts=None,
    collect_counts: bool = True,
) -> dict[str, int]:
    """Build/refresh the whole star schema; returns row counts.

    The silver inputs are consumed by multiple consumers (three metric
    aggregations, the location build, the fact assembly) — cache them
    for the duration of the job so the CDC parse/clean lineage runs
    once, not once per consumer (the reference re-reads materialized
    silver *tables*, which amounts to the same reuse).

    The six independent dimension builds (location, three SCD2 dims,
    date, time) run as concurrent Spark jobs from a thread pool — they
    write disjoint tables and only trip_fact
    depends on one of them (dim_location), so the only barrier is
    before the fact build. On a cluster this is the standard
    multi-job-per-session idiom (the reference runs them serially
    inside one notebook task, leaving executors idle per stage tail);
    locally it overlaps scheduling gaps for a ~20-25% wall-clock win
    (the shared silver-cache materialization serializes first access).

    ``collect_counts=False`` skips the per-table count actions entirely
    (returns {}) — the reference's eager-count anti-pattern
    (gold_pipeline.py:157,177,227,341) made opt-outable; production /
    bench runs don't pay for observability they don't read. When on,
    all tables are counted in ONE job via a union instead of seven
    separate actions.
    """
    spark = eater_silver.sparkSession
    cached = [eater_silver, merchant_silver, courier_silver, trip_events_silver]
    for df in cached:
        df.cache()

    from concurrent.futures import ThreadPoolExecutor
    from functools import partial

    from ..core.catalog import GOLD_TABLES

    def _location() -> None:
        lake.overwrite(
            "dim_location",
            build_dim_location(eater_silver, merchant_silver),
            partition_by=list(GOLD_TABLES["dim_location"].partition_by),
        )

    scd2_dims = {
        "dim_eater": (eater_with_metrics, eater_silver),
        "dim_merchant": (merchant_with_metrics, merchant_silver),
        "dim_courier": (courier_with_metrics, courier_silver),
    }

    def _scd2(name: str) -> None:
        build, silver = scd2_dims[name]
        spec = GOLD_TABLES[name]
        apply_scd2(
            lake, name, build(silver, trip_events_silver),
            list(spec.scd2_business_keys), list(spec.scd2_compare_columns),
            surrogate_name=name.removeprefix("dim_") + "_key",
            effective_ts=effective_ts,
        )

    dim_tasks = [
        _location,
        *(partial(_scd2, name) for name in scd2_dims),
        lambda: (
            None if lake.exists("dim_date")
            else lake.overwrite("dim_date", generate_dim_date(spark))
        ),
        lambda: (
            None if lake.exists("dim_time")
            else lake.overwrite("dim_time", generate_dim_time(spark))
        ),
    ]
    with ThreadPoolExecutor(max_workers=len(dim_tasks)) as pool:
        futures = [pool.submit(fn) for fn in dim_tasks]
        for f in futures:  # surface the first failure, fail the job
            f.result()

    fact = build_trip_fact(
        trip_events_silver, eater_silver, merchant_silver, lake.read("dim_location")
    )
    fact_spec = GOLD_TABLES["trip_fact"]
    lake.upsert(
        "trip_fact",
        fact,
        keys=list(fact_spec.merge_keys),
        update_condition=fact_spec.merge_guard,
        partition_by=list(fact_spec.partition_by),
    )
    for df in cached:
        df.unpersist()

    if not collect_counts:
        return {}
    tables = [
        "dim_location", "dim_eater", "dim_merchant", "dim_courier",
        "dim_date", "dim_time", "trip_fact",
    ]
    # one action for all counts: union of per-table scalar aggregates
    # (parquet counts are footer-only reads; the win is one job, not 7)
    unioned = None
    for name in tables:
        c = lake.read(name).select(
            F.lit(name).alias("t"), F.lit(1).alias("one")
        ).groupBy("t").agg(F.count("*").alias("n"))
        unioned = c if unioned is None else unioned.unionByName(c)
    # seed with zeros: an empty table contributes no groupBy row, but
    # callers expect counts[name] == 0, not KeyError
    counts = {name: 0 for name in tables}
    counts.update({r["t"]: r["n"] for r in unioned.collect()})
    return counts
