"""Continuously-maintained ANN (IVF) state — an embedding stream
feeding the assignment table via foreachBatch.

This is the streaming face of ``operators/similarity.ivf_upsert``
(the r13 incremental-ANN class), the exact mirror of
``streaming/incremental_neardup.py`` for vector search: each
micro-batch of newly ingested embeddings

    micro-batch -> assign the delta to the EXISTING centroids
    (O(delta·K) broadcast, the corpus assignment never re-read) ->
    MERGE the delta rows into the assignment table ->
    MERGE a drift-metrics row keyed on batch_id

so the warehouse's ANN index is always searchable and current
(``search_maintained_ivf``) without ever re-training or re-assigning
the corpus — the one O(corpus) event (``retrain_ivf``) happens only
when the drift ledger says the ingest distribution has left the
trained quantizer behind.

**Layout is the index.** The assignment table is partitioned by
``cell`` — the IVF inverted-list structure materialized as the
table's directory layout. Two things fall out:

- Every per-batch MERGE takes ``Lakehouse.upsert``'s partition-pruned
  path (``cell`` is a merge key, so ``pcols <= keys`` holds): the
  rewrite term is O(touched cells), and for a steady in-distribution
  batch that is the handful of lists the new vectors land in.
- A search scans only probed cells: ``ivf_search`` equi-joins the
  (tiny, broadcast) per-query probe cells against the table's
  partition column, so Spark's dynamic partition pruning skips every
  unprobed list directory at scan time — nprobe/K of the table read,
  which is the IVF speedup, delivered by the STORAGE layout rather
  than a custom index file.

Skew note: a hot cell (over-dense region of embedding space) is one
partition — the same hot-partition caveat as every hash layout here.
The fix is quantizer-side (more centroids, i.e. retrain with larger
K), not layout-side.

Exactly-once under foreachBatch's at-least-once redelivery: new ids
anti-join against the stored assignment (source redelivery drops
out), the assignment MERGE is keyed on (cell, id) — assignment is a
deterministic function of (vector, centroids), so a replayed batch
merges the identical rows — and the metrics MERGE is keyed on
(stream_id, batch_id): batch_id alone restarts at 0 for every new
checkpoint, so a later stream incarnation would silently overwrite an
earlier one's ledger rows; keying the checkpoint identity in keeps a
same-checkpoint replay idempotent while distinct incarnations append
distinct history (a fresh-checkpoint redelivery of already-ingested
data writes nothing at all — its rows anti-join out before the
metrics leg). Write order (assignment -> metrics) means a mid-batch
crash can only lose the metrics row of a batch whose assignment
landed; the replay re-merges both.

Memory: each micro-batch runs inside one ``checkpoint_scope``, so its
checkpoint is released once merged — checkpoint blocks survive
unpersist()/GC on this runtime.

Reference parity: the reference has no incremental ANN maintenance —
its gold MERGE pattern (pipelines/gold_pipeline.py:789-796) is the
storage shape being reused; the operator itself is the IVM design of
storage/ivm.py applied to ANN state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..core.session import checkpoint as scoped_checkpoint
from ..core.session import checkpoint_scope
from ..operators.similarity import (
    assign_cells,
    ivf_distortion,
    ivf_search,
    ivf_upsert,
)
from ..storage.lakehouse import Lakehouse

CENTROIDS_TABLE = "ivf_centroids"
ASSIGNMENT_TABLE = "ivf_assignment"
METRICS_TABLE = "ivf_drift_metrics"

_METRICS_SCHEMA = (
    "stream_id string, batch_id long, n_vecs long, "
    "delta_distortion double, base_distortion double, retrain boolean"
)


def bootstrap_ivf_state(
    lake: Lakehouse,
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids_table: str = CENTROIDS_TABLE,
    assignment_table: str = ASSIGNMENT_TABLE,
    metrics_table: str = METRICS_TABLE,
) -> float | None:
    """One-shot index build: write ``cents`` (cell, cvec — from
    ``kmeans.kmeans_train`` or a label-derived ``_centroids``), assign
    the corpus, and seed the drift ledger with the build-time
    distortion (the ``batch_id = -1`` row every later batch compares
    against). Returns the base distortion (None for an empty corpus).

    The assignment table is partitioned by ``cell`` — see the module
    docstring; this is the layout every maintenance MERGE and every
    search prunes on."""
    spark = corpus.sparkSession
    with checkpoint_scope():
        cents = scoped_checkpoint(cents)
        assigned = assign_cells(corpus, cents, id_col, vec_col, 1)
        base_d = ivf_distortion(cents, assigned, vec_col)
        lake.overwrite(centroids_table, cents)
        lake.overwrite(assignment_table, assigned, partition_by=["cell"])
        lake.overwrite(
            metrics_table,
            spark.createDataFrame(
                [("bootstrap", -1, corpus.count(), base_d, base_d, False)],
                _METRICS_SCHEMA,
            ),
        )
    return base_d


def search_maintained_ivf(
    lake: Lakehouse,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    centroids_table: str = CENTROIDS_TABLE,
    assignment_table: str = ASSIGNMENT_TABLE,
) -> DataFrame:
    """ANN top-k over the maintained state — equal to
    rebuild-then-search with the same centroids (assignment is
    pointwise-deterministic; pinned in pytest). The cell equi-join
    against the cell-partitioned table dynamically prunes unprobed
    list directories (nprobe/K of the corpus read)."""
    return ivf_search(
        lake.read(centroids_table),
        lake.read(assignment_table),
        queries,
        id_col,
        vec_col,
        k=k,
        nprobe=nprobe,
    )


def retrain_ivf(
    lake: Lakehouse,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    n_iter: int = 2,
    dim: int = 64,
    centroids_table: str = CENTROIDS_TABLE,
    assignment_table: str = ASSIGNMENT_TABLE,
    metrics_table: str = METRICS_TABLE,
) -> float | None:
    """The rare O(corpus) event the streaming face exists to make
    rare: re-train centroids on the CURRENT corpus (k-means over the
    stored assignment table's vectors, K defaulting to the current
    cell count), re-assign, and reset the drift baseline. Call when
    the drift ledger's ``retrain`` flag fires; the stream picks up the
    new quantizer on its next batch (centroids are re-read per
    batch). Resets the drift ledger to a fresh ``batch_id = -1``
    baseline row — prior rows measured distortion against the retired
    quantizer and would poison later comparisons."""
    from ..operators.kmeans import kmeans_train

    with checkpoint_scope():
        # k-means re-reads the corpus per round
        corpus = scoped_checkpoint(
            lake.read(assignment_table).select(id_col, vec_col)
        )
        if k is None:
            k = lake.read(centroids_table).count()
        cents = kmeans_train(
            corpus, id_col=id_col, vec_col=vec_col, k=k, n_iter=n_iter, dim=dim
        )
        return bootstrap_ivf_state(
            lake, corpus, cents, id_col, vec_col,
            centroids_table, assignment_table, metrics_table,
        )


def start_incremental_ivf(
    spark: SparkSession,
    vecs_stream: DataFrame,
    lake: Lakehouse,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    retrain_factor: float = 1.5,
    track_drift: bool = True,
    centroids_table: str = CENTROIDS_TABLE,
    assignment_table: str = ASSIGNMENT_TABLE,
    metrics_table: str = METRICS_TABLE,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the foreachBatch query maintaining the IVF state.

    ``vecs_stream`` needs at least (id_col, vec_col). The state must
    be bootstrapped first (``bootstrap_ivf_state``) — an un-built
    index has no quantizer to assign against, so the batch function
    raises rather than silently training on one micro-batch.

    ``track_drift=False`` skips the per-batch distortion agg entirely
    (zero extra jobs — the throughput path); with drift on, each
    batch MERGEs one ledger row and the ``retrain`` flag compares the
    delta's distortion against the bootstrap baseline times
    ``retrain_factor``. The stream only RECORDS the signal — retrain
    is the owner's O(corpus) decision (``retrain_ivf``), never an
    automatic side effect of ingest."""
    stream_id = os.path.basename(os.path.normpath(checkpoint)) or checkpoint

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # one scope per micro-batch: the batch checkpoint is dead once
        # merged (or empty) — a forever-running stream would otherwise
        # accrete one per batch
        with checkpoint_scope():
            _process(batch_df, batch_id)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(id_col, vec_col).dropDuplicates([id_col])
        if batch.isEmpty():
            return
        if not lake.exists(centroids_table):
            raise RuntimeError(
                f"IVF state not bootstrapped: {centroids_table} missing "
                "(call bootstrap_ivf_state before starting the stream)"
            )
        cents = lake.read(centroids_table)
        base_d = None
        if track_drift:
            row = (
                lake.read(metrics_table)
                .where(F.col("batch_id") == -1)
                .select("base_distortion")
                .first()
                if lake.exists(metrics_table)
                else None
            )
            base_d = row["base_distortion"] if row else None
        # enforce the new-ids contract structurally (source redelivery
        # drops out here); the anti-join reads the very table the MERGE
        # below rewrites, so checkpoint the batch before writing
        batch = scoped_checkpoint(batch.join(
            lake.read(assignment_table).select(id_col), id_col, "left_anti"
        ))
        if batch.isEmpty():
            return
        delta_cells, info = ivf_upsert(
            cents, batch, id_col, vec_col,
            base_distortion=base_d, retrain_factor=retrain_factor,
        )
        lake.upsert(
            assignment_table,
            delta_cells,
            keys=["cell", id_col],
            partition_by=["cell"],
        )
        if track_drift and base_d is not None:
            lake.upsert(
                metrics_table,
                spark.createDataFrame(
                    [(
                        stream_id,
                        int(batch_id),
                        batch.count(),
                        info.get("delta_distortion"),
                        base_d,
                        bool(info.get("retrain", False)),
                    )],
                    _METRICS_SCHEMA,
                ),
                keys=["stream_id", "batch_id"],
            )

    writer = (
        vecs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
