"""Distributed k-means: planted-partition recovery + numpy replay."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ubeardw_databricks_lakehouse_spark.operators.kmeans import (
    kmeans_assign,
    kmeans_train,
)


def _planted(spark, n_clusters=3, per=30, dim=8, noise=0.05, seed=5):
    rng = np.random.default_rng(seed)
    centers = np.zeros((n_clusters, dim))
    for c in range(n_clusters):
        centers[c, c] = 1.0
    rows = []
    for i in range(n_clusters * per):
        c = i % n_clusters
        v = centers[c] + noise * rng.standard_normal(dim)
        rows.append((i, [float(x) for x in v], c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ), rows


def test_kmeans_recovers_planted_partition(spark):
    df, rows = _planted(spark)
    # seed one vector from each planted cluster so Lloyd can't collapse
    cents = kmeans_train(df, k=3, n_iter=3, dim=8, seed_ids=[0, 1, 2])
    got = {
        r["vec_id"]: r["cell"]
        for r in kmeans_assign(df, cents).collect()
    }
    # every planted cluster maps to exactly one learned cell, bijectively
    by_label: dict[int, set[int]] = {}
    for vid, vec, lab in rows:
        by_label.setdefault(lab, set()).add(got[vid])
    assert all(len(cells) == 1 for cells in by_label.values())
    assert len({next(iter(c)) for c in by_label.values()}) == 3


def test_kmeans_matches_numpy_replay(spark):
    """Exact Lloyd replay (same seeding, same assignment metric) —
    centroids agree within float-partial-sum tolerance."""
    df, rows = _planted(spark, n_clusters=2, per=20, dim=4, seed=9)
    seed_ids = [0, 1]
    k, n_iter = 2, 2
    cents = kmeans_train(df, k=k, n_iter=n_iter, dim=4, seed_ids=seed_ids)
    got = {
        r["cell"]: np.array(r["cvec"])
        for r in cents.collect()
    }

    vecs = {vid: np.array(v, dtype="float32").astype("float64") for vid, v, _ in rows}
    c = np.stack([vecs[s] for s in seed_ids])
    for _ in range(n_iter):
        # cosine assignment, ties to lower cell id (assign_cells rule)
        assign = {}
        for vid, v in vecs.items():
            sims = (c @ v) / (np.linalg.norm(c, axis=1) * np.linalg.norm(v))
            assign[vid] = int(np.argmax(sims))
        new_c = []
        for cell in range(k):
            # _centroids_fast rounds each component to 6 dp before summing
            m = np.stack([np.round(vecs[vid], 6) for vid, a in assign.items() if a == cell])
            new_c.append(m.sum(axis=0) / len(m))
        c = np.stack(new_c)

    for cell in range(k):
        assert got[cell] == pytest.approx(c[cell], abs=1e-6), cell


def test_kmeans_hash_seeding_deterministic(spark):
    df, _ = _planted(spark)
    c1 = sorted(map(tuple, (r["cvec"] for r in kmeans_train(df, k=3, n_iter=1, dim=8).collect())))
    c2 = sorted(map(tuple, (r["cvec"] for r in kmeans_train(df, k=3, n_iter=1, dim=8).collect())))
    assert c1 == c2


def test_assign_cells_lsh_agrees_with_exact(spark):
    """LSH-bucketed coarse assignment must agree with the exact N×K
    scorer on well-separated clusters (recall<1 contract: high
    agreement, never collapse), and every vector must be assigned
    (fallback covers empty probed buckets)."""
    from ubeardw_databricks_lakehouse_spark.operators.similarity import (
        assign_cells,
        assign_cells_lsh,
        _centroids_fast,
    )

    df, rows = _planted(spark, n_clusters=4, per=40, dim=8, noise=0.05)
    cents = _centroids_fast(
        df.selectExpr("vec_id", "embedding", "label as cell"),
        "embedding",
        "cell",
        8,
    )
    exact = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(df, cents, "vec_id", "embedding", 1).collect()
    }
    got = {
        r["vec_id"]: r["cell"]
        for r in assign_cells_lsh(
            df, cents, "vec_id", "embedding", dim=8, n_planes=4, nprobe=1
        ).collect()
    }
    assert set(got) == set(exact)  # every vector assigned
    agree = sum(got[v] == exact[v] for v in exact) / len(exact)
    assert agree >= 0.9, agree


def test_assign_cells_lsh_fallback_covers_all(spark):
    """With n_planes >> log2(K), most buckets are empty and the exact
    fallback must still assign every vector."""
    from ubeardw_databricks_lakehouse_spark.operators.similarity import (
        assign_cells_lsh,
        _centroids_fast,
    )

    df, _ = _planted(spark, n_clusters=2, per=10, dim=8, noise=0.02)
    cents = _centroids_fast(
        df.selectExpr("vec_id", "embedding", "label as cell"),
        "embedding",
        "cell",
        8,
    )
    out = assign_cells_lsh(
        df, cents, "vec_id", "embedding", dim=8, n_planes=8, nprobe=1
    )
    assert out.select("vec_id").distinct().count() == 20


def test_coarse_assignment_routing(monkeypatch):
    """The routing contract: exact within the broadcast-scoring budget,
    LSH past it."""
    from ubeardw_databricks_lakehouse_spark.operators import similarity

    monkeypatch.setattr(similarity, "assign_cells", lambda *a, **kw: "exact")
    monkeypatch.setattr(similarity, "assign_cells_lsh", lambda *a, **kw: "lsh")
    k_max = similarity.AUTO_LSH_MIN_CELLS

    def route(k):
        return similarity._assign_coarse(None, None, k, "id", "v", 8, 1)

    assert route(8) == "exact"
    assert route(k_max) == "exact"
    assert route(k_max + 1) == "lsh"


def test_kmeans_assign_auto_small_k_equals_exact(spark):
    """A small centroid set must reproduce the exact scorer
    bit-for-bit (it routes to it)."""
    df, _ = _planted(spark, n_clusters=3, per=20, dim=8, noise=0.05)
    from ubeardw_databricks_lakehouse_spark.operators.similarity import (
        _centroids_fast,
        assign_cells,
    )

    cents = _centroids_fast(
        df.selectExpr("vec_id", "embedding", "label as cell"),
        "embedding", "cell", 8,
    )
    auto = {
        r["vec_id"]: r["cell"]
        for r in kmeans_assign(df, cents, dim=8).collect()
    }
    exact = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(df, cents, "vec_id", "embedding", 1).collect()
    }
    assert auto == exact


def test_clustered_pairs_lsh_assignment_recall(spark, monkeypatch):
    """LSH routing must recover nearly all the exact-routing pairs on
    the real sf0.001 embedding corpus."""
    from ubeardw_databricks_lakehouse_spark.operators import similarity
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        embedding_neardup_pairs_clustered,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs_clustered(
            emb, threshold=0.4, n_cells=8, nprobe=4
        ).collect()
    }
    # a zero budget routes even K=8 to the LSH scorer
    monkeypatch.setattr(similarity, "AUTO_LSH_MIN_CELLS", 0)
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs_clustered(
            emb, threshold=0.4, n_cells=8, nprobe=4
        ).collect()
    }
    assert exact, "exact routing found no pairs — test data changed?"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, recall
