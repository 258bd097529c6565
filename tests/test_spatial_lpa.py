"""Spatial radius join + LPA community detection (the r10 additions
#3 and #4) — brute-force equivalence, losslessness properties, guard
behavior, and pure-Python replays."""

from __future__ import annotations

import contextlib
import itertools
import math
import random
import re
from collections import Counter, defaultdict

import pytest

from ubeardw_databricks_lakehouse_spark.operators.graph import community_lpa
from ubeardw_databricks_lakehouse_spark.operators.spatial import radius_join


def _brute_pairs(pts, r):
    out = {}
    for (i, xi, yi), (j, xj, yj) in itertools.combinations(pts, 2):
        a, b = (i, j) if i < j else (j, i)
        dx, dy = xi - xj, yi - yj
        dsq = dx * dx + dy * dy
        if dsq <= r * r:
            out[(a, b)] = dsq
    return out


def test_radius_join_matches_brute_force(spark):
    random.seed(11)
    pts = [(i, random.uniform(-30, 30), random.uniform(-60, 60)) for i in range(350)]
    df = spark.createDataFrame(pts, "id bigint, x double, y double")
    for r in (0.5, 4.0, 20.0):
        got = {(a, b): d for a, b, d in radius_join(df, "id", "x", "y", r).collect()}
        assert got == _brute_pairs(pts, r), f"radius {r}"


def test_radius_join_cell_boundary_pairs_not_lost(spark):
    # points straddling cell boundaries in every direction: the 3x3
    # neighborhood must recover all of them (the losslessness claim)
    r = 1.0
    pts = [
        (1, 0.999, 0.0), (2, 1.001, 0.0),     # x-boundary
        (3, 0.0, -0.001), (4, 0.0, 0.001),    # y-boundary
        (5, 0.999, 0.999), (6, 1.001, 1.001), # corner (diagonal cell)
        (7, -0.001, -0.001), (8, 0.001, 0.001),
        (9, 5.0, 5.0),                        # isolated
    ]
    df = spark.createDataFrame(pts, "id bigint, x double, y double")
    got = {(a, b) for a, b, _ in radius_join(df, "id", "x", "y", r).collect()}
    exp = set(_brute_pairs(pts, r))
    assert got == exp
    assert not any(9 in p for p in got)


def test_radius_join_pair_emitted_exactly_once(spark):
    # coincident + near-coincident points: candidate generation must
    # surface each unordered pair once, never 9x
    pts = [(i, 0.1 * i, 0.0) for i in range(20)] + [(100, 0.0, 0.0), (101, 0.0, 0.0)]
    df = spark.createDataFrame(pts, "id bigint, x double, y double")
    rows = radius_join(df, "id", "x", "y", 3.0).collect()
    keys = [(r[0], r[1]) for r in rows]
    assert len(keys) == len(set(keys))
    assert all(a < b for a, b in keys)
    assert (100, 101) in set(keys)


def test_radius_join_two_table_mode(spark):
    left = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 10.0, 10.0)], "id bigint, x double, y double"
    )
    right = spark.createDataFrame(
        [(7, 0.5, 0.0), (8, 10.0, 10.4), (9, 50.0, 50.0)],
        "id bigint, x double, y double",
    )
    got = {(a, b) for a, b, _ in radius_join(left, "id", "x", "y", 1.0, other=right).collect()}
    assert got == {(1, 7), (2, 8)}


def _haversine_km(p, q):
    lat1, lon1 = math.radians(p[1]), math.radians(p[2])
    lat2, lon2 = math.radians(q[1]), math.radians(q[2])
    h = (
        math.sin((lat2 - lat1) / 2) ** 2
        + math.cos(lat1) * math.cos(lat2) * math.sin((lon2 - lon1) / 2) ** 2
    )
    return 2 * 6371.0088 * math.asin(math.sqrt(min(h, 1.0)))


def test_radius_join_haversine_vs_python_replay(spark):
    random.seed(23)
    pts = [(i, random.uniform(-68, 68), random.uniform(-180, 180)) for i in range(250)]
    df = spark.createDataFrame(pts, "id bigint, lat double, lon double")
    rkm = 800.0
    got = {
        (a, b): d
        for a, b, d in radius_join(df, "id", "lat", "lon", rkm, metric="haversine").collect()
    }
    exp = {}
    for p, q in itertools.combinations(pts, 2):
        d = _haversine_km(p, q)
        if d <= rkm:
            exp[(p[0], q[0])] = d
    assert set(got) == set(exp)
    assert all(abs(got[k] - exp[k]) < 1e-9 for k in got)


def test_radius_join_haversine_latitude_guard_fires(spark):
    df = spark.createDataFrame(
        [(1, 80.0, 0.0), (2, 80.1, 0.2)], "id bigint, lat double, lon double"
    )
    with pytest.raises(Exception, match="max_abs_lat"):
        radius_join(df, "id", "lat", "lon", 100.0, metric="haversine").collect()
    # widening the band accepts the same rows
    got = radius_join(
        df, "id", "lat", "lon", 100.0, metric="haversine", max_abs_lat=85.0
    ).collect()
    assert len(got) == 1


def test_radius_join_input_validation(spark):
    df = spark.createDataFrame([(1, 0.0, 0.0)], "id bigint, x double, y double")
    with pytest.raises(ValueError, match="radius"):
        radius_join(df, "id", "x", "y", 0.0)
    with pytest.raises(ValueError, match="metric"):
        radius_join(df, "id", "x", "y", 1.0, metric="manhattan")
    with pytest.raises(ValueError, match="_cx"):
        radius_join(df.withColumn("_cx", df.x), "id", "x", "y", 1.0)
    # null coords are dropped, not joined or raised
    dfn = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, None, 0.0), (3, 0.1, 0.1)], "id bigint, x double, y double"
    )
    got = {(a, b) for a, b, _ in radius_join(dfn, "id", "x", "y", 1.0).collect()}
    assert got == {(1, 3)}


# ---------------------------------------------------------------------------
# community_lpa
# ---------------------------------------------------------------------------


def _lpa_py(edges, n_iter):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    lbl = {v: v for v in adj}
    for _ in range(n_iter):
        lbl = {
            v: max(
                Counter(lbl[w] for w in adj[v]).items(),
                key=lambda kv: (kv[1], -kv[0]),
            )[0]
            for v in adj
        }
    return lbl


def test_lpa_two_cliques_with_bridge(spark):
    edges = []
    for base in (0, 10):
        edges += [(base + i, base + j) for i, j in itertools.combinations(range(6), 2)]
    edges.append((5, 10))  # bridge
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = dict(community_lpa(df, n_iter=3).collect())
    assert got == _lpa_py(edges, 3)
    # the two cliques keep distinct communities despite the bridge
    assert len({got[v] for v in range(6)}) == 1
    assert len({got[v] for v in range(10, 16)}) == 1
    assert got[0] != got[10]


def test_lpa_matches_python_replay_random_graph(spark):
    random.seed(41)
    edges = list({(random.randint(0, 80), random.randint(0, 80)) for _ in range(300)})
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    for k in (1, 2, 4):
        got = dict(community_lpa(df, n_iter=k).collect())
        assert got == _lpa_py(edges, k), f"n_iter={k}"


def test_lpa_synchronous_oscillation_is_deterministic(spark):
    # a single edge oscillates under synchronous updates: after one
    # round each endpoint holds the OTHER's label; after two, its own.
    df = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    assert dict(community_lpa(df, n_iter=1).collect()) == {1: 2, 2: 1}
    assert dict(community_lpa(df, n_iter=2).collect()) == {1: 1, 2: 2}


def test_lpa_self_loops_ignored_and_validation(spark):
    df = spark.createDataFrame([(1, 1), (1, 2), (2, 3)], "src bigint, dst bigint")
    got = dict(community_lpa(df, n_iter=2).collect())
    assert got == _lpa_py([(1, 2), (2, 3)], 2)
    with pytest.raises(ValueError, match="n_iter"):
        community_lpa(df, n_iter=0)


def test_radius_join_haversine_antimeridian_wrap(spark):
    # pairs straddling lon ±180 must be found (the ring-cell wrap);
    # the pole-free band keeps the grid lossless
    pts = [
        (1, 10.0, 179.9), (2, 10.0, -179.9),    # ~22 km apart across the seam
        (3, -40.0, 179.5), (4, -40.0, -179.8),  # ~60 km across the seam
        (5, 10.0, 0.0),                          # far away
    ]
    df = spark.createDataFrame(pts, "id bigint, lat double, lon double")
    got = {(a, b): d for a, b, d in radius_join(df, "id", "lat", "lon", 100.0, metric="haversine").collect()}
    assert set(got) == {(1, 2), (3, 4)}
    assert abs(got[(1, 2)] - _haversine_km(pts[0], pts[1])) < 1e-9
    assert abs(got[(3, 4)] - _haversine_km(pts[2], pts[3])) < 1e-9


def test_radius_join_haversine_huge_radius_single_ring_cell(spark):
    # radius so large the lon ring degenerates to one or two cells:
    # offsets must stay distinct (no duplicate pairs) and recall total
    random.seed(5)
    pts = [(i, random.uniform(-20, 20), random.uniform(-180, 180)) for i in range(60)]
    df = spark.createDataFrame(pts, "id bigint, lat double, lon double")
    rkm = 15000.0
    rows = radius_join(df, "id", "lat", "lon", rkm, metric="haversine", max_abs_lat=25.0).collect()
    keys = [(r[0], r[1]) for r in rows]
    assert len(keys) == len(set(keys))
    exp = {
        (p[0], q[0])
        for p, q in itertools.combinations(pts, 2)
        if _haversine_km(p, q) <= rkm
    }
    assert set(keys) == exp


def test_lpa_converge_mode(spark):
    # a clique fixes after round 1 (everyone adopts the min label);
    # converge=True must stop there and equal the fixed-round result
    edges = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    fixed = dict(community_lpa(df, n_iter=6).collect())
    conv = dict(community_lpa(df, n_iter=6, converge=True).collect())
    assert conv == fixed == {v: 0 for v in range(5)}
    # oscillating single edge never fixes: converge runs to the cap
    osc = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    assert dict(community_lpa(osc, n_iter=3, converge=True).collect()) == {1: 2, 2: 1}
    assert "_prev" not in community_lpa(osc, n_iter=2, converge=True).columns


def test_lpa_long_min_label_no_overflow(spark):
    # hashed 64-bit node ids can be LONG_MIN; the tie-break must never
    # negate a label (ANSI overflow) — only the always-positive count
    lm = -(2**63)
    edges = [(lm, 5), (5, 6), (6, lm)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = dict(community_lpa(df, n_iter=2).collect())
    assert got == _lpa_py(edges, 2)
    assert lm in got  # the extreme id is a labeled node, and the min
    assert got[5] == lm or got[6] == lm or got[lm] == lm


def test_radius_join_nan_coords_dropped_both_metrics(spark):
    # NaN behaves like NULL — dropped, never a misleading guard trip
    nan = float("nan")
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, nan, 0.0), (3, 0.1, 0.1), (4, 0.0, nan)],
        "id bigint, x double, y double",
    )
    got = {(a, b) for a, b, _ in radius_join(df, "id", "x", "y", 1.0).collect()}
    assert got == {(1, 3)}
    dfh = spark.createDataFrame(
        [(1, 10.0, 0.0), (2, nan, 0.2), (3, 10.1, 0.1)],
        "id bigint, lat double, lon double",
    )
    goth = {(a, b) for a, b, _ in radius_join(dfh, "id", "lat", "lon", 50.0, metric="haversine").collect()}
    assert goth == {(1, 3)}


def test_radius_join_haversine_two_table_mode(spark):
    left = spark.createDataFrame([(1, 48.85, 2.35)], "id bigint, lat double, lon double")   # Paris
    right = spark.createDataFrame(
        [(7, 48.80, 2.30), (8, 51.50, -0.12), (9, 48.85, 179.0)],
        "id bigint, lat double, lon double",
    )  # Versailles-ish, London, antipode-ish
    got = {(a, b): d for a, b, d in radius_join(
        left, "id", "lat", "lon", 20.0, other=right, metric="haversine"
    ).collect()}
    assert set(got) == {(1, 7)}
    assert abs(got[(1, 7)] - _haversine_km((1, 48.85, 2.35), (7, 48.80, 2.30))) < 1e-9


def _lpa_py_weighted(edges_w, n_iter):
    adj = defaultdict(dict)
    for u, v, w in edges_w:
        if u != v:
            adj[u][v] = adj[u].get(v, 0) + w
            adj[v][u] = adj[v].get(u, 0) + w
    lbl = {v: v for v in adj}
    for _ in range(n_iter):
        new = {}
        for v in adj:
            votes = Counter()
            for w_node, wt in adj[v].items():
                votes[lbl[w_node]] += wt
            new[v] = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        lbl = new
    return lbl


def test_lpa_weighted_matches_python_replay(spark):
    random.seed(53)
    edges = [
        (random.randint(0, 30), random.randint(0, 30), random.randint(1, 9))
        for _ in range(120)
    ]
    df = spark.createDataFrame(edges, "src bigint, dst bigint, w bigint")
    for k in (1, 3):
        got = dict(community_lpa(df, n_iter=k, weight_col="w").collect())
        assert got == _lpa_py_weighted(edges, k), f"n_iter={k}"


def test_lpa_weighted_flips_the_unweighted_mode(spark):
    # node 0: two light neighbors labeled 10, one heavy neighbor
    # labeled 20 — unweighted mode says 10, weighted says 20
    edges = [(0, 10, 1), (0, 11, 1), (0, 20, 5), (10, 11, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint, w bigint")
    unweighted = dict(community_lpa(df, n_iter=1).collect())
    weighted = dict(community_lpa(df, n_iter=1, weight_col="w").collect())
    assert unweighted[0] == 10 and weighted[0] == 20


def test_lpa_weighted_rejects_fractional_weights(spark):
    df = spark.createDataFrame([(1, 2, 1.5)], "src bigint, dst bigint, w double")
    with pytest.raises(Exception, match="integral"):
        community_lpa(df, n_iter=1, weight_col="w").collect()


def test_lpa_rejects_string_node_ids(spark):
    # string ids used to cast('bigint') into silent NULL communities;
    # the operator now raises at entry and tells the caller to hash
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(TypeError, match="xxhash64"):
        community_lpa(df, n_iter=1)


def test_lpa_null_weight_raises_its_own_message(spark):
    # NULL weight used to trip the integral guard with a misleading
    # message; it now raises a NULL-specific one
    df = spark.createDataFrame(
        [(1, 2, 3), (2, 3, None)], "src bigint, dst bigint, w bigint"
    )
    with pytest.raises(Exception, match="non-null"):
        community_lpa(df, n_iter=1, weight_col="w").collect()


# ---------------------------------------------------------------------------
# kcore
# ---------------------------------------------------------------------------


def _kcore_py(edges, k, n_iter=10**9):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    rounds = 0
    while rounds < n_iter:
        drop = {v for v in adj if len(adj[v]) < k}
        if not drop:
            break
        for v in drop:
            for w in adj[v]:
                adj[w].discard(v)
            del adj[v]
        adj = {v: nb for v, nb in adj.items() if nb}
        rounds += 1
    return {v: len(nb) for v, nb in adj.items()}


def test_kcore_planted_clique_survives_chain_peels(spark):
    from ubeardw_databricks_lakehouse_spark.operators.graph import kcore

    # 6-clique (degrees 5) + a 30-node chain hanging off it: at k=3
    # the chain peels away end-in, the clique survives intact
    edges = [(i, j) for i, j in itertools.combinations(range(6), 2)]
    edges += [(5 + i, 6 + i) for i in range(30)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = dict(kcore(df, k=3, n_iter=50).collect())
    assert got == {v: 5 for v in range(6)}
    # k above the clique degree: empty core, empty frame (not an error)
    assert kcore(df, k=6, n_iter=50).count() == 0


def test_kcore_matches_python_replay_random_graph(spark):
    from ubeardw_databricks_lakehouse_spark.operators.graph import kcore

    random.seed(71)
    edges = list({(random.randint(0, 60), random.randint(0, 60)) for _ in range(180)})
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    for k in (2, 3, 4):
        got = dict(kcore(df, k=k, n_iter=100).collect())
        assert got == _kcore_py(edges, k), f"k={k}"


def test_kcore_fixed_round_cap_is_partial_peel(spark):
    from ubeardw_databricks_lakehouse_spark.operators.graph import kcore

    # a 10-node chain at k=2 peels one node per end per round; the
    # round-capped result equals the python replay at the same cap,
    # and a converged run equals the unbounded replay (empty)
    edges = [(i, i + 1) for i in range(9)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got1 = dict(kcore(df, k=2, n_iter=1).collect())
    assert got1 == _kcore_py(edges, 2, n_iter=1)
    assert kcore(df, k=2, n_iter=50).count() == 0
    # fixpoint stability: extra rounds past convergence change nothing
    clique = [(i, j) for i, j in itertools.combinations(range(5), 2)]
    dfc = spark.createDataFrame(clique, "src bigint, dst bigint")
    a = dict(kcore(dfc, k=3, n_iter=2).collect())
    b = dict(kcore(dfc, k=3, n_iter=20).collect())
    assert a == b == {v: 4 for v in range(5)}


def test_kcore_validation(spark):
    from ubeardw_databricks_lakehouse_spark.operators.graph import kcore

    df = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="k must"):
        kcore(df, k=0)
    with pytest.raises(ValueError, match="n_iter"):
        kcore(df, k=2, n_iter=0)
    dfs = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(TypeError, match="xxhash64"):
        kcore(dfs, k=2)


@contextlib.contextmanager
def _broadcasts_disabled(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_radius_join_shuffle_hash_hint_identical_pairs(spark):
    # the sized SHUFFLE_HASH build changes the physical join, never
    # the pair set (the 64M spill-wall fix; see sized_hash_build)
    random.seed(97)
    pts = [(i, random.uniform(-20, 20), random.uniform(-20, 20)) for i in range(300)]
    df = spark.createDataFrame(pts, "id bigint, x double, y double")
    base = {(a, b): d for a, b, d in radius_join(df, "id", "x", "y", 2.0).collect()}
    with _broadcasts_disabled(spark):
        hashed = radius_join(df, "id", "x", "y", 2.0)
        assert "ShuffledHashJoin" in hashed._jdf.queryExecution().executedPlan().toString()
        hinted = {(a, b): d for a, b, d in hashed.collect()}
    assert hinted == base == _brute_pairs(pts, 2.0)


def test_radius_join_shuffle_hash_auto_sizes_and_matches(spark, monkeypatch):
    # the sized hash build derives the build-side partition count
    # (r11 verdict #3): pair set identical to the broadcast plan, the
    # physical join is a ShuffledHashJoin, and the repartition width
    # is max(shuffle.partitions, ceil(build_rows / TARGET_BUILD_ROWS))
    from ubeardw_databricks_lakehouse_spark.core import session

    random.seed(41)
    pts = [(i, random.uniform(-20, 20), random.uniform(-20, 20)) for i in range(300)]
    df = spark.createDataFrame(pts, "id bigint, x double, y double")
    base = {(a, b): d for a, b, d in radius_join(df, "id", "x", "y", 2.0).collect()}
    # 300 build rows: 50 per build -> the 8 shuffle partitions win;
    # 10 per build -> 30 partitions, more than shuffle.partitions
    for target, parts in ((50, 8), (10, 30)):
        monkeypatch.setattr(session, "TARGET_BUILD_ROWS", target)
        with _broadcasts_disabled(spark):
            auto = radius_join(df, "id", "x", "y", 2.0)
            plan = auto._jdf.queryExecution().executedPlan().toString()
            assert "ShuffledHashJoin" in plan
            assert re.search(
                rf"hashpartitioning\(_cx#\d+L, _cy#\d+L, {parts}\)", plan
            ), plan
            got = {(a, b): d for a, b, d in auto.collect()}
        assert got == base == _brute_pairs(pts, 2.0)
