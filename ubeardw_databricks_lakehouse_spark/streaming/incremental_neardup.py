"""Continuously-maintained near-dup state — a document stream feeding
the LSH band index via foreachBatch.

This is the streaming face of ``operators/dedup.neardup_upsert`` (the
r12 incremental class): each micro-batch of newly ingested documents

    micro-batch -> band the delta (O(delta)) ->
    probe the STORED band index for new-vs-base candidates +
    delta self-join for new-vs-new ->
    exact-Jaccard verify against only the touched corpus docs ->
    MERGE pairs / band rows / docs into their tables

so the warehouse's near-dup pair table and band index are always
current without ever re-hashing the corpus — the same
recompute-only-what-the-batch-touches shape as
``streaming/incremental_gold.py`` and the metric-view IVM
(``storage/ivm.py``).

Exactly-once under foreachBatch's at-least-once redelivery: all three
writes are keyed MERGEs (pairs on (id_a, id_b), index on
(doc_id, band_idx) — one row per doc per band — corpus on doc_id),
and ``neardup_upsert`` guards the index probe with an id inequality,
so a replayed batch — whose bands are already IN the index — finds
the same pairs and merges them idempotently instead of self-pairing
or duplicating. Pinned in pytest by re-running a wave from a fresh
checkpoint and asserting the pair table is unchanged.

Write order (pairs -> index -> corpus) makes a mid-batch crash safe:
pairs landing without the index/corpus update just means the replay
re-derives and re-merges them; the index row landing BEFORE its
corpus doc would instead make the next batch's verify silently miss
the doc's shingles, which is why the corpus merge comes last only
AFTER the index merge in the same batch function (both replay-safe,
neither readable by the next batch until this function returns —
foreachBatch batches are serialized per query).

State-table layout (``state_buckets``): with ``state_buckets=B > 0``
each state table is hash-bucket partitioned on a key-derived column —
index by ``pmod(xxhash64(band_hash), B)``, corpus by
``pmod(xxhash64(doc_id), B)``, pairs by ``pmod(xxhash64(id_a), B)`` —
and the bucket column joins the MERGE keys, so ``Lakehouse.upsert``'s
partition-pruned rewrite path applies: the per-batch MERGE term is
O(touched buckets), not O(corpus) (on delta the same layout prunes
files natively). Size B so delta rows per batch stay BELOW B — uniform
hashing touches ``B*(1-(1-1/B)^rows)`` buckets, so a batch with more
rows than buckets degenerates to the full rewrite.

Memory: each micro-batch runs inside one ``checkpoint_scope``, so every
checkpoint the batch takes is released once its rows are merged —
checkpoint blocks survive unpersist()/GC on this runtime, so a
forever-running stream would otherwise accrete dead delta-sized blocks
per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..core.session import checkpoint as scoped_checkpoint
from ..core.session import checkpoint_scope
from ..operators.dedup import neardup_upsert
from ..storage.lakehouse import Lakehouse


def start_incremental_neardup(
    spark: SparkSession,
    docs_stream: DataFrame,
    lake: Lakehouse,
    checkpoint: str,
    corpus_table: str = "neardup_corpus",
    index_table: str = "neardup_band_index",
    pairs_table: str = "neardup_pairs",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 2,
    threshold: float = 0.5,
    hash_fn: str = "md5",
    available_now: bool = True,
    state_buckets: int = 0,
    groups_table: str | None = None,
) -> StreamingQuery:
    """Start the foreachBatch query maintaining the near-dup tables.

    ``docs_stream`` needs at least (id_col, text_col). Documents with
    ids already in the corpus are dropped (the upsert contract: an id
    replacing an existing doc must be deleted from the index first) —
    which is also what makes source-level redelivery harmless.

    Steady micro-batches broadcast the delta into the index probe (the
    stored index is scanned, never shuffled); run a giant backfill,
    where a forced broadcast would OOM, in a session with broadcasts
    disabled (``spark.sql.autoBroadcastJoinThreshold=-1``) and the
    planner picks the join sides.

    ``state_buckets=B > 0`` bucket-partitions the three state tables
    (module docstring) so each MERGE rewrites only touched buckets.
    The layout is fixed at table creation; changing B for existing
    tables requires a rewrite.

    ``groups_table`` (opt-in) additionally maintains the dup-GROUPS
    table — (id, component) with component = min reachable id, the
    ``connected_components`` contract — via ``dedup.cc_upsert``: the
    batch's verified pairs fold into the stored labels O(delta +
    relabeled), so group membership is always current without ever
    re-running CC over the historical pair set. Write order: groups
    merge BEFORE the corpus merge — the corpus table is the replay
    fence (ids anti-join out once their corpus row lands), so every
    derived write that must survive a mid-batch crash has to precede
    it; a replayed batch re-derives the same pairs and ``cc_upsert``
    returns an empty delta for already-reflected edges.
    """
    bucketed = state_buckets > 0

    def _bucket(df: DataFrame, col: str, alias: str) -> DataFrame:
        return df.withColumn(
            alias,
            F.pmod(F.xxhash64(F.col(col)), F.lit(state_buckets)).cast("int"),
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # one scope per micro-batch: every checkpoint taken below — the
        # anti-joined batch, neardup_upsert's intermediates (delta
        # bands, candidate set, touched-doc shingles), the merge inputs —
        # is dead once the batch's rows are merged (or the batch turns
        # out empty); a forever-running stream would otherwise accrete
        # them per micro-batch
        with checkpoint_scope():
            _process(batch_df)

    def _process(batch_df: DataFrame) -> None:
        batch = batch_df.select(id_col, text_col).dropDuplicates([id_col])
        if batch.isEmpty():
            return
        if lake.exists(corpus_table):
            corpus = lake.read(corpus_table).select(id_col, text_col)
            # enforce the new-ids contract (and source redelivery
            # safety) structurally, not by trusting the source; the
            # anti-join + the upsert below both traverse `batch` —
            # checkpoint it so the plan runs once per branch, and
            # because foreachBatch merges the very tables batch reads
            batch = scoped_checkpoint(
                batch.join(corpus.select(id_col), id_col, "left_anti")
            )
            if batch.isEmpty():
                return
            index = lake.read(index_table)
        else:
            # first batch bootstraps the state: empty index, empty corpus
            batch = scoped_checkpoint(batch)
            id_type = batch.schema[id_col].dataType.simpleString()
            index = spark.createDataFrame(
                [], f"{id_col} {id_type}, band_idx int, band_hash string"
            )
            corpus = batch.limit(0)
        pairs, delta_bands = neardup_upsert(
            index, batch, corpus,
            id_col=id_col, text_col=text_col, n_hashes=n_hashes,
            band_size=band_size, shingle_n=shingle_n,
            threshold=threshold, hash_fn=hash_fn,
        )
        _merge_all(batch, pairs, delta_bands)

    def _merge_groups(pairs: DataFrame) -> None:
        # fold the batch's verified pairs into the stored group labels
        # (O(delta + relabeled)); BEFORE the corpus merge — see the
        # docstring's crash-replay ordering argument
        from ..operators.dedup import cc_upsert

        if lake.exists(groups_table):
            stored = lake.read(groups_table).select(id_col, "component")
        else:
            id_type = "long"
            for f in pairs.schema.fields:
                if f.name == "id_a":
                    id_type = f.dataType.simpleString()
            stored = spark.createDataFrame(
                [], f"{id_col} {id_type}, component {id_type}"
            )
        delta = cc_upsert(stored, pairs.select("id_a", "id_b"), id_col=id_col)
        if bucketed:
            lake.upsert(
                groups_table,
                _bucket(delta, id_col, "grp_bucket"),
                keys=["grp_bucket", id_col],
                partition_by=["grp_bucket"],
            )
        else:
            lake.upsert(groups_table, delta, keys=[id_col])

    def _merge_all(
        batch: DataFrame, pairs: DataFrame, delta_bands: DataFrame
    ) -> None:
        # merge ONLY the delta's band rows — existing index rows are
        # immutable, so the MERGE source stays O(delta); with
        # state_buckets the bucket column joins the keys, so the
        # rewrite side is O(touched buckets) too (pruned-MERGE path)
        if bucketed:
            # the pruned MERGE traverses each source twice (bucket
            # distinct + the merge join) and `pairs` carries the
            # verify leg — checkpoint both once
            pairs = scoped_checkpoint(_bucket(pairs, "id_a", "pair_bucket"))
            bands = scoped_checkpoint(
                _bucket(delta_bands, "band_hash", "band_bucket")
            )
            lake.upsert(
                pairs_table,
                pairs,
                keys=["pair_bucket", "id_a", "id_b"],
                partition_by=["pair_bucket"],
            )
            lake.upsert(
                index_table,
                bands,
                keys=["band_bucket", id_col, "band_idx"],
                partition_by=["band_bucket"],
            )
            if groups_table:
                _merge_groups(pairs)
            lake.upsert(
                corpus_table,
                _bucket(batch, id_col, "id_bucket"),
                keys=["id_bucket", id_col],
                partition_by=["id_bucket"],
            )
            # steady appends (the insert-only MERGE fast path writes one
            # file per touched bucket per batch) need compaction or the
            # per-batch probe/verify reads degrade on file count; the
            # threshold trades write amplification (one O(table)
            # coalesce every ~8 full-touch batches) for bounded reads
            for tbl in (pairs_table, index_table, corpus_table):
                if (
                    lake.exists(tbl)
                    and lake.read_table_meta(tbl).get("auto_compact_max_files")
                    is None
                ):
                    lake.set_auto_compact(tbl, max(512, 8 * state_buckets))
        elif groups_table:
            # pairs' lineage reads the index/corpus tables the MERGEs
            # below rewrite — checkpoint it before any write or the
            # deferred cc_upsert materialization reads deleted files
            pairs = scoped_checkpoint(pairs)
            lake.upsert(pairs_table, pairs, keys=["id_a", "id_b"])
            lake.upsert(index_table, delta_bands, keys=[id_col, "band_idx"])
            _merge_groups(pairs)
            lake.upsert(corpus_table, batch, keys=[id_col])
        else:
            lake.upsert(pairs_table, pairs, keys=["id_a", "id_b"])
            lake.upsert(index_table, delta_bands, keys=[id_col, "band_idx"])
            lake.upsert(corpus_table, batch, keys=[id_col])

    writer = (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
