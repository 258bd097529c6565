"""Product quantization (PQ) for embedding compression + ANN memory
budgets (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
Search").

Split each D-dim vector into ``m`` subvectors of D/m dims; learn a
``ksub``-centroid codebook per subspace (Lloyd k-means); a vector's
code is its m nearest-centroid ids — D floats (256 B at D=64) compress
to m bytes (8 B at m=8, ksub<=256), the memory step that makes
billion-vector ANN fit a cluster's RAM. Complements the existing
scalar path (`similarity.quantize_int8`: 4x, per-component) with the
codebook path (32x, per-subvector).

Spark shapes (all reused from the IVF machinery):

- subvector explosion is `F.inline` of m sliced structs — one narrow
  pass, N×m rows, no driver state;
- assignment is a broadcast join against the (m × ksub)-row codebook +
  a groupBy-min argmin (map-side combinable; never a window over a hot
  partition);
- centroid recomputation is `similarity._centroids_fast` partial sums
  keyed by the composite (sub_id, cell) — O(batches × m × ksub) rows
  shuffled per Lloyd round regardless of corpus size;
- the driver loop is bounded by ``n_iter`` (connected-components
  precedent); lineage is truncated per round by the checkpoint
  inside the loop.

Float k-means is not oracle-hashable (order-sensitive last bits) —
the registry query is rows-only; tests pin the trained codebook and
codes EXACTLY against a numpy reference on exact-arithmetic data, plus
invariants (code ranges, monotone reconstruction error) on the real
corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.session import broadcast_gate, checkpoint, release_local_checkpoint


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subvectors(
    df: DataFrame, id_col: str, vec_col: str, m: int, dsub: int,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *extra, sub_id, sv) rows — each vector sliced into m double
    subvectors; ``extra`` names per-id columns carried along the
    explosion (so downstream consumers need no join back to ``df``)."""
    entries = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub_id"),
                F.transform(
                    F.slice(F.col(vec_col), s * dsub + 1, dsub),
                    lambda x: x.cast("double"),
                ).alias("sv"),
            )
            for s in range(m)
        ]
    )
    return df.select(F.col(id_col), *extra, F.inline(entries))


def _assign(
    sub: DataFrame, cents: DataFrame, id_col: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Nearest codebook entry per (id, sub_id): broadcast-scored join +
    groupBy-min with deterministic tie-break on cell id. The codebook
    is m × ksub rows by construction but a stats-less checkpoint, so
    the broadcast goes through ``broadcast_gate``.

    ``carry`` names columns of ``sub`` that are CONSTANT within an
    (id, sub_id) group (the subvector itself, a per-id cell label);
    they ride through the aggregation as ``first()`` — one map-side
    combinable shuffle — instead of the N×m⨝N×m join-back the callers
    used to pay to re-attach them (guide §2.4: the join shuffled and
    sorted both sides just to recover a column the group already had;
    measured as the 2 SortMergeJoin residue in the r13 ivfpq plan).
    """
    scored = sub.join(broadcast_gate(sub.sparkSession)(cents), "sub_id").select(
        id_col,
        "sub_id",
        F.struct(
            _l2sq(F.col("sv"), F.col("cvec")).alias("d"),
            F.col("cell").alias("c"),
        ).alias("dc"),
        *carry,
    )
    return (
        scored.groupBy(id_col, "sub_id")
        .agg(
            F.min("dc").alias("m"),
            # constant within the group -> first() is order-free
            *[F.first(c).alias(c) for c in carry],
        )
        .select(
            id_col,
            "sub_id",
            F.col("m.c").alias("code"),
            F.col("m.d").alias("dist"),
            *carry,
        )
    )


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 2,
    dim: int = 64,
    seed_ids: list | None = None,
) -> DataFrame:
    """Learn the PQ codebook: (sub_id, cell, cvec) — m × ksub rows.

    Seeding is deterministic: the ksub vectors with the smallest
    xxhash64(id) (a reproducible uniform sample) seed EVERY subspace
    with their respective subvectors; ``seed_ids`` overrides for tests.
    Then ``n_iter`` Lloyd rounds of assign + recompute.

    Input contract (the CC-edge lesson, r10): each Lloyd round
    re-derives the subvector projection from ``df`` (a map-only slice,
    so the real cost is re-SCANNING df once per round) — right when
    df is a table, wrong when it is a derived pipeline; materialize
    such inputs first. Centroids (the small frame) are checkpointed
    every round here, and each round's checkpoint releases the
    previous round's blocks (ADVICE r13 lifecycle rule). The returned
    codebook is a ``checkpoint``: it belongs to the caller's
    ``checkpoint_scope``, so a long-lived owner re-pins it.
    """
    from .kmeans import hash_seed_ranks, seed_override_ranks
    from .similarity import _centroids_fast

    dsub = dim // m
    assert dsub * m == dim, "dim must be divisible by m"
    sub = _subvectors(df, id_col, vec_col, m, dsub)

    ranked = (
        seed_override_ranks(df, id_col, seed_ids)
        if seed_ids is not None
        else hash_seed_ranks(df, id_col, ksub)
    )
    seeds = sub.join(ranked, id_col).select("sub_id", "cell", "sv")
    cents = checkpoint(seeds.select("sub_id", "cell", F.col("sv").alias("cvec")))

    for _ in range(max(0, n_iter)):
        # the subvector rides through the argmin agg (constant per
        # (id, sub_id) group), so a Lloyd round is ONE map-side
        # combinable shuffle — the former sub⨝assigned join-back
        # re-shuffled and sorted both N×m-row sides per round purely
        # to re-attach sv (guide §2.4)
        assigned = _assign(sub, cents, id_col, carry=("sv",))
        rows = assigned.select(
            (F.col("sub_id") * ksub + F.col("code")).alias("_ck"), F.col("sv")
        )
        folded = _centroids_fast(rows, "sv", "_ck", dsub)
        prev_cents = cents
        cents = checkpoint(folded.select(
            (F.col("cell") / ksub).cast("long").alias("sub_id"),
            F.pmod(F.col("cell"), F.lit(ksub)).alias("cell"),
            F.col("cvec"),
        ))
        # the superseded round's (m × ksub)-row centroid checkpoint is
        # dead once the new one is materialized — free its blocks now
        # instead of accreting one per round per build (ADVICE r13)
        release_local_checkpoint(prev_cents)
    return cents


def pq_encode(
    df: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Encode vectors against a trained codebook: one row per vector,
    (id, codes, mse) — ``codes`` is the space-joined m-byte code word
    (sub_id order), ``mse`` the per-component reconstruction error.
    Map-only relative to the corpus: broadcast codebook + argmin."""
    dsub = dim // m
    sub = _subvectors(df, id_col, vec_col, m, dsub)
    assigned = _assign(sub, cents, id_col)
    return (
        assigned.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub_id", "code"))),
                    lambda s: s["code"].cast("string"),
                ),
                " ",
            ).alias("codes"),
            (F.sum("dist") / F.lit(dim)).alias("mse"),
        )
    )
