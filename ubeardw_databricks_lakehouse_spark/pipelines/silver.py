"""Silver layer — typed, cleaned, deduplicated entity tables.

Re-expresses pipelines/silver_pipeline.py:89-323 as pure DataFrame
transforms that work identically on batch DataFrames and streaming
micro-batches. Each ``silver_<entity>`` takes a Bronze-shaped DataFrame
(sources/debezium.py output) and returns the Silver projection.

Streaming note: the reference calls ``dropDuplicates([pk])`` on an
unbounded stream — state grows forever (SURVEY.md §2.8 ST3). The
rebuild's streaming wrapper adds ``withWatermark`` over the CDC
timestamp to bound state; batch semantics are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.schemas import TRIP_PAYLOAD_SCHEMA
from ..expectations.rules import SILVER_RULES, apply_expectations
from ..functions.cleaning import (
    clean_string,
    epoch_ms_to_ts,
    normalize_country,
    normalize_email,
    normalize_license_plate,
    normalize_name,
    normalize_phone,
    normalize_postal_code,
)

def _cdc_meta() -> list[F.Column]:
    return [
        F.col("cdc_operation"),
        F.col("cdc_timestamp"),
        F.current_timestamp().alias("silver_load_time"),
    ]



def _latest_per_key(df: DataFrame, pk: str) -> DataFrame:
    """Deterministic snapshot dedup: latest cdc_timestamp wins. The
    reference's dropDuplicates([pk]) keeps an arbitrary row when a batch
    holds insert+update for one key (SURVEY.md §4 hazard).

    Tie-breaks are total: equal timestamps prefer the later lifecycle op
    ('u' sorts above 'r'/'d'/'c'), then a row-content hash — so reruns
    and shuffles can never flip the surviving row.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(pk).orderBy(
        F.col("cdc_timestamp").desc_nulls_last(),
        F.col("cdc_operation").desc_nulls_last(),
        F.xxhash64(*[F.col(c) for c in df.columns]).desc(),
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _silver_tail(
    df: DataFrame, entity: str, pk: str, dedup: bool, quarantine_sink
) -> DataFrame:
    """Every builder's last steps: apply the entity's expectations, hand
    the dropped rows to ``quarantine_sink``, then keep the latest row
    per ``pk`` (``dedup``)."""
    applied = apply_expectations(df, SILVER_RULES[entity])
    if quarantine_sink is not None and applied.quarantine is not None:
        quarantine_sink(applied.quarantine)
    out = applied.df
    if dedup:
        out = _latest_per_key(out, pk)
    return out


def _entity_common(df: DataFrame) -> DataFrame:
    """Upstream deletes drop out of silver (op='d' has no after image)."""
    return df.filter((F.col("cdc_operation") != "d") | F.col("cdc_operation").isNull())


def silver_trip_events(bronze: DataFrame, dedup: bool = True, quarantine_sink=None) -> DataFrame:
    """Explode the sparse JSON payload into typed metric columns
    (silver_pipeline.py:89-162)."""
    df = _entity_common(bronze).withColumn(
        "p", F.from_json(F.col("payload"), TRIP_PAYLOAD_SCHEMA)
    )
    out = df.select(
        "event_id",
        "trip_id",
        "order_id",
        "eater_id",
        "merchant_id",
        "courier_id",
        clean_string("event_type").alias("event_type"),
        epoch_ms_to_ts("event_time").alias("event_time"),
        # financial
        F.col("p.subtotal_amount").alias("subtotal_amount"),
        F.col("p.delivery_fee").alias("delivery_fee"),
        F.col("p.service_fee").alias("service_fee"),
        F.col("p.tax_amount").alias("tax_amount"),
        F.col("p.tip_amount").alias("tip_amount"),
        F.col("p.total_amount").alias("total_amount"),
        F.col("p.courier_payout").alias("courier_payout"),
        F.col("p.discount_amount").alias("discount_amount"),
        # logistics
        F.col("p.distance_miles").alias("distance_miles"),
        F.col("p.delivery_time_minutes").alias("delivery_time_minutes"),
        F.col("p.preparation_time_minutes").alias("preparation_time_minutes"),
        # ratings
        F.col("p.eater_rating").alias("eater_rating"),
        F.col("p.courier_rating").alias("courier_rating"),
        F.col("p.merchant_rating").alias("merchant_rating"),
        # context
        F.col("p.trip_status").alias("trip_status"),
        F.col("p.is_group_order").alias("is_group_order"),
        F.col("p.promo_code").alias("promo_code"),
        F.col("p.weather_condition").alias("weather_condition"),
        F.col("p.items").alias("items"),
        F.col("payload").alias("raw_payload"),
        *_cdc_meta(),
    )
    return _silver_tail(out, "trip_events", "event_id", dedup, quarantine_sink)


def silver_eater(bronze: DataFrame, dedup: bool = True, quarantine_sink=None) -> DataFrame:
    out = _entity_common(bronze).select(
        "eater_id",
        "eater_uuid",
        normalize_name("first_name").alias("first_name"),
        normalize_name("last_name").alias("last_name"),
        normalize_email("email").alias("email"),
        normalize_phone("phone_number").alias("phone_number"),
        clean_string("address_line_1").alias("address_line_1"),
        clean_string("address_line_2").alias("address_line_2"),
        clean_string("city").alias("city"),
        clean_string("state_province").alias("state_province"),
        normalize_postal_code("postal_code").alias("postal_code"),
        normalize_country("country").alias("country"),
        clean_string("default_payment_method").alias("default_payment_method"),
        "is_active",
        epoch_ms_to_ts("created_at").alias("created_at"),
        epoch_ms_to_ts("updated_at").alias("updated_at"),
        *_cdc_meta(),
    )
    return _silver_tail(out, "eater", "eater_id", dedup, quarantine_sink)


def silver_merchant(bronze: DataFrame, dedup: bool = True, quarantine_sink=None) -> DataFrame:
    out = _entity_common(bronze).select(
        "merchant_id",
        "merchant_uuid",
        normalize_name("name").alias("name"),
        normalize_email("email").alias("email"),
        normalize_phone("phone_number").alias("phone_number"),
        F.lower(clean_string("business_type")).alias("business_type"),
        F.lower(clean_string("cuisine_type")).alias("cuisine_type"),
        clean_string("address_line_1").alias("address_line_1"),
        clean_string("address_line_2").alias("address_line_2"),
        clean_string("city").alias("city"),
        clean_string("state_province").alias("state_province"),
        normalize_postal_code("postal_code").alias("postal_code"),
        normalize_country("country").alias("country"),
        F.col("operating_hours"),  # JSONB carried opaque (silver_pipeline.py:265)
        "is_active",
        epoch_ms_to_ts("created_at").alias("created_at"),
        epoch_ms_to_ts("updated_at").alias("updated_at"),
        *_cdc_meta(),
    )
    return _silver_tail(out, "merchant", "merchant_id", dedup, quarantine_sink)


def silver_courier(bronze: DataFrame, dedup: bool = True, quarantine_sink=None) -> DataFrame:
    out = _entity_common(bronze).select(
        "courier_id",
        "courier_uuid",
        normalize_name("first_name").alias("first_name"),
        normalize_name("last_name").alias("last_name"),
        normalize_email("email").alias("email"),
        normalize_phone("phone_number").alias("phone_number"),
        F.lower(clean_string("vehicle_type")).alias("vehicle_type"),
        normalize_license_plate("license_plate").alias("license_plate"),
        "is_active",
        F.col("onboarding_date").try_cast("date").alias("onboarding_date"),
        epoch_ms_to_ts("created_at").alias("created_at"),
        epoch_ms_to_ts("updated_at").alias("updated_at"),
        *_cdc_meta(),
    )
    return _silver_tail(out, "courier", "courier_id", dedup, quarantine_sink)


SILVER_BUILDERS = {
    "trip_events": silver_trip_events,
    "eater": silver_eater,
    "merchant": silver_merchant,
    "courier": silver_courier,
}
