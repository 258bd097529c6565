"""Distributed k-means (bounded Lloyd) over full embedding vectors.

The label-free coarse quantizer: `similarity.topk_ivf` and the
cluster-blocked SemDeDup path (`dedup.embedding_dedup_clusters_fast`)
use the corpus's `label` column as the cell structure; real corpora
have no labels. This operator LEARNS the cells with the same machinery
the PQ codebooks train with (`pq.pq_train` runs this exact loop per
subspace):

- deterministic seeding: the k vectors with the smallest xxhash64(id)
  — a reproducible uniform sample, no RNG state (`pq_train`
  precedent);
- assignment: `similarity.assign_cells` — broadcast K-row centroid
  table scored against the corpus, N×K with zero corpus shuffle;
- update: `similarity._centroids_fast` — Arrow partial sums, at most
  (batches × k) rows shuffled per round regardless of corpus size;
- driver loop BOUNDED by ``n_iter``, lineage truncated per round with
  localCheckpoint (the connected-components policy).

Float means are order-sensitive in the last bits — not
oracle-hashable; tests pin cluster RECOVERY (planted partitions
recovered exactly) and centroid values against a numpy replay within
float tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.session import checkpoint
from .similarity import _assign_coarse, _centroids_fast, assign_cells


def hash_seed_ranks(df: DataFrame, id_col: str, k: int) -> DataFrame:
    """(id, cell) for the ``k`` rows with the smallest xxhash64(id) —
    the shared deterministic-seeding rule for every Lloyd trainer here
    and in `pq.pq_train` (one copy, so the 'reproducible uniform
    sample' contract cannot drift between trainers)."""
    w = Window.orderBy("_h", id_col)
    return (
        df.select(F.col(id_col))
        .withColumn("_h", F.xxhash64(F.col(id_col)))
        .orderBy("_h", id_col)
        .limit(k)
        .select(
            F.col(id_col),
            (F.row_number().over(w) - 1).cast("long").alias("cell"),
        )
    )


def seed_override_ranks(df: DataFrame, id_col: str, seed_ids: list) -> DataFrame:
    """(id, cell) from an explicit seed list (tests pin exact seeds)."""
    order = F.array_position(
        F.array(*[F.lit(s) for s in seed_ids]), F.col(id_col)
    )
    return df.where(order > 0).select(
        F.col(id_col), (order - 1).cast("long").alias("cell")
    )


def kmeans_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    seed_ids: list | None = None,
) -> DataFrame:
    """Learn (cell, cvec) centroids, cells numbered 0..k-1 by seed
    order. ``seed_ids`` overrides the hash seeding for tests.

    Input contract (the CC-edge lesson, r10): each Lloyd round re-reads
    ``df`` (n_iter + 1 scans total). That is the right trade when df is
    a TABLE — column-pruned parquet scans are cheaper than
    checkpoint-writing a corpus-sized frame — but a caller handing a
    derived pipeline should materialize it first (localCheckpoint or a
    table write), or every round re-runs the upstream lineage. The
    small frame (centroids) is checkpointed here every round."""
    ranked = (
        seed_override_ranks(df, id_col, seed_ids)
        if seed_ids is not None
        else hash_seed_ranks(df, id_col, k)
    )
    seeds = ranked.join(df.select(id_col, vec_col), id_col).select(
        "cell",
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cvec"),
    )
    cents = checkpoint(seeds)
    for _ in range(max(0, n_iter)):
        assigned = assign_cells(df, cents, id_col, vec_col, 1)
        cents = checkpoint(_centroids_fast(assigned, vec_col, "cell", dim))
    return cents


def kmeans_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(id, vec, cell): nearest learned centroid per vector — the
    label-free drop-in for a `label`-derived cell column. Exact N×K
    scoring while K fits the broadcast-scoring budget
    (`similarity.AUTO_LSH_MIN_CELLS`), the sub-N×K LSH bucketed scorer
    beyond it — K is one cheap count job over the (small) centroid
    frame."""
    return _assign_coarse(
        df, centroids, centroids.count(), id_col, vec_col, dim, 1
    )
