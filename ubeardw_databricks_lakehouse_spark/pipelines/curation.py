"""End-to-end corpus curation — the LLM training-data pipeline the
individual operators exist for, as one composable flow:

    quality rules -> eval-set decontamination -> exact dedup ->
    near-dup dedup (LSH clusters, canonical survivor) -> chunking

Each stage consumes the previous stage's survivors, and every document
gets a terminal status, so the output is both the audit trail
("why did doc X drop out?") and the join key into the final chunk set.

Scale shape: every stage is one of the already-analyzed operators
(SCALING.md) — per-row expressions, broadcast eval grams, fingerprint
groupBy, LSH band joins, bounded CC rounds. The stage wiring adds only
doc_id-keyed semi/anti joins, which co-partition with the per-stage
aggregates. Nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.session import checkpoint
from ..operators.chunking import chunk_documents
from ..operators.curation import contamination_report, gopher_quality_flags
from ..operators.dedup import dedup_clusters
from ..operators.text import fingerprint

# terminal statuses, in pipeline order
EVAL_HOLDOUT = "eval_holdout"
DROPPED_QUALITY = "dropped_quality"
DROPPED_CONTAMINATED = "dropped_contaminated"
DROPPED_EXACT_DUP = "dropped_exact_dup"
DROPPED_NEAR_DUP = "dropped_near_dup"
KEPT = "kept"


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_mod: int = 50,
    contamination_ngram: int = 8,
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Run the full curation pipeline; returns one row per document:
    (doc_id, status, n_chunks) with n_chunks > 0 only for ``kept``.

    ``doc_id % eval_mod == 0`` plays the held-out benchmark set (in a
    real deployment the eval set is an external table — the shape of
    the check is identical).
    """
    did = F.col(id_col)
    evalset = docs.where(did % eval_mod == 0)
    train = docs.where(did % eval_mod != 0)

    # stage 1 — per-document quality rules
    #
    # CHECKPOINT DISCIPLINE (every stage below): each stage's survivor
    # frame feeds BOTH the next stage AND the final audit join, and the
    # audit additionally walks every intermediate — without
    # materialization the lineage multiplies and the executed plan
    # scans the corpus once per reference (measured: 71 FileScan nodes
    # for this one query before the fix; ReuseExchange does not fire
    # across the branches). In a production warehouse each stage is a
    # materialized table between jobs; localCheckpoint is the
    # in-session equivalent — one corpus-bounded write per stage, each
    # read as many times as the DAG needs it.
    quality = gopher_quality_flags(train, id_col, text_col).select(id_col, "keep")
    q_surv = train.join(
        quality.where(F.col("keep")).select(id_col), id_col, "left_semi"
    ).transform(checkpoint)

    # stage 2 — n-gram collisions against the eval set (docs too short
    # to have any n-gram are absent from the report = trivially clean)
    contam = contamination_report(
        q_surv, evalset, contamination_ngram, id_col, text_col
    ).transform(checkpoint)  # feeds the anti-join AND the audit
    c_surv = q_surv.join(
        contam.where(F.col("contaminated")).select(id_col), id_col, "left_anti"
    )

    # stage 3 — exact dedup: keep the min-id doc per content fingerprint
    with_fp = c_surv.select(did, F.col(text_col), fingerprint(text_col).alias("_fp"))
    exact_survivor = with_fp.groupBy("_fp").agg(F.min(id_col).alias("_surv"))
    e_surv = (
        with_fp.join(exact_survivor, "_fp")
        .where(did == F.col("_surv"))
        .select(id_col, text_col)
        .transform(checkpoint)  # feeds clusters, stage 5, audit
    )

    # stage 4 — near-dup clusters; keep the canonical member
    clusters = dedup_clusters(e_surv, id_col, text_col)
    n_surv = e_surv.join(
        clusters.where(F.col("is_canonical")).select(id_col), id_col, "left_semi"
    ).transform(checkpoint)  # feeds chunking AND the audit

    # stage 5 — chunk the survivors
    n_chunks = (
        chunk_documents(n_surv, id_col, text_col, chunk_tokens, overlap)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_chunks"))
    )

    status = (
        F.when(did % eval_mod == 0, EVAL_HOLDOUT)
        .when(F.col("_q").isNull(), DROPPED_QUALITY)
        .when(F.col("_c").isNotNull(), DROPPED_CONTAMINATED)
        .when(F.col("_e").isNull(), DROPPED_EXACT_DUP)
        .when(F.col("_n").isNull(), DROPPED_NEAR_DUP)
        .otherwise(KEPT)
    )
    marker = lambda df, name: df.select(did.alias("_k")).withColumn(  # noqa: E731
        name, F.lit(True)
    )
    out = (
        docs.select(id_col)
        .join(marker(q_surv, "_q"), did == F.col("_k"), "left").drop("_k")
        .join(
            marker(contam.where(F.col("contaminated")), "_c"),
            did == F.col("_k"), "left",
        ).drop("_k")
        .join(marker(e_surv, "_e"), did == F.col("_k"), "left").drop("_k")
        .join(marker(n_surv, "_n"), did == F.col("_k"), "left").drop("_k")
        .join(n_chunks, id_col, "left")
    )
    return out.select(
        id_col,
        status.alias("status"),
        F.coalesce(
            F.when(status == KEPT, F.col("n_chunks")), F.lit(0)
        ).alias("n_chunks"),
    )
