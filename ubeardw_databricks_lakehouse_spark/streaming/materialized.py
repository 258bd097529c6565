"""Continuously-maintained metric views — streaming IVM over the CDF.

The DLT feature the reference's platform is built on: a materialized
aggregate that tracks its base table incrementally. Here the change
stream is the parquet CDF table (append-only, so the file stream
source tails it exactly like Delta's CDF read) and each micro-batch
folds its signed deltas into the view via ``storage.ivm.apply_deltas``
— O(changes-in-batch) per trigger, checkpointed so a restart resumes
from the first unprocessed CDF file.

Reference parity: DLT materialized views / `@dlt.table` over a CDC
stream (bronze/silver pipelines are continuous in the reference's job
configs); this is the same contract expressed as Structured Streaming
+ foreachBatch, which is how open-source Spark implements it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..storage.ivm import apply_deltas, metric_deltas
from ..storage.lakehouse import Lakehouse


def stream_metric_view(
    spark: SparkSession,
    lake: Lakehouse,
    view_name: str,
    base_name: str,
    group_cols: list[str],
    value_col: str,
    checkpoint: str,
    value_prec: str = "decimal(18,2)",
):
    """Tail ``<base>__cdf`` and fold each micro-batch into the view.

    Returns the started StreamingQuery (availableNow trigger: drains
    whatever CDF files exist, then stops — the test/batch-catchup
    mode; swap the trigger for processingTime in a live deployment).

    foreachBatch is at-least-once: a crash after the fold but before
    the checkpoint commit replays the SAME batch_id on restart, and
    re-applying signed deltas is NOT a no-op — it double-counts. The
    fold is made exactly-once the way Delta's txnAppId/txnVersion
    pattern does it: the last applied batch_id is committed atomically
    WITH the view (sidecar meta in the same version commit), and a
    replayed batch_id <= that ledger is skipped. On the delta backend
    the meta lands just after the data commit (``Lakehouse.overwrite``).
    """
    cdf_path = lake.path(f"{base_name}__cdf")
    schema = spark.read.parquet(cdf_path).schema

    def fold(batch_df, batch_id: int) -> None:
        last = lake.read_table_meta(view_name).get("last_batch_id", -1)
        if batch_id <= last:
            return  # replayed batch already folded — skip, don't double-count
        deltas = metric_deltas(batch_df, group_cols, value_col, value_prec)
        apply_deltas(
            lake,
            view_name,
            deltas,
            group_cols,
            value_prec,
            meta={"last_batch_id": batch_id},
        )

    return (
        spark.readStream.schema(schema)
        .parquet(cdf_path)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
