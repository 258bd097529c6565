"""Spatial radius join — all point pairs within a distance, without
the cross product.

A raw ``a JOIN b ON dist(a, b) <= r`` has no equi-key, so Spark plans
it as BroadcastNestedLoopJoin / cartesian — quadratic shuffle at any
scale. The standard fix mirrors the binned range join
(operators/rangejoin.py) in two dimensions: quantize the plane into
square grid cells of side ``radius``, explode ONE side to its 3x3
neighborhood, equi-join on the cell coordinates, then apply the exact
distance predicate as a residual filter.

Losslessness: if dist(a, b) <= r then |ax-bx| <= r and |ay-by| <= r,
so floor(ax/cw) and floor(bx/cw) differ by at most 1 for any cell
width cw >= r (same for y) — the 3x3 neighborhood is a superset of
every qualifying pair, and each candidate pair surfaces exactly once
(b's home cell is unique and a's exploded cells are distinct). The
cell width carries a 1e-6 relative margin in BOTH metrics: the
qualifying predicate is the FLOAT residual dx*dx+dy*dy <= r*r, and a
pair whose float residual just passes while its true coordinate delta
exceeds r by an ulp could otherwise land two cells apart (the margin
is ~1e10 ulps wide, the rounding error a handful — the superset claim
is unconditional again).

Self-join mode emits only the 5-cell HALF-neighborhood
{(0,0),(0,+1),(+1,-1),(+1,0),(+1,+1)}: for any two distinct cells u,v
exactly one of v-u / u-v lies in that set (its non-zero members plus
their negations tile all 8 neighbor offsets), so every cross-cell
pair surfaces exactly once with no ordering filter, and same-cell
pairs dedup on id order as before; output ids are normalized with
least/greatest. This nearly halves the exploded shuffle: 5|A| + |A|
rows vs the two-table mode's 9|A| + |B| — at 64M points the 9-way
explode was the measured single-node spill wall (SCALING.md r10
ladder). On the modular longitude ring the half-set argument needs
n >= 3 ring cells (with n <= 2, +1 and -1 coincide mod n and the
"exactly one direction" claim fails); degenerate 1-2 cell rings fall
back to the full neighborhood + id-order filter.

Scale: shuffle volume is 5|A| + |A| (self) / 9|A| + |B| (two-table)
rows keyed by cell — linear, equi-keyed, AQE-skew-splittable; a dense
city cell is ONE hot key that AQE splits, vs. the nested-loop plan
where density is a global quadratic. Replication factor is a constant
regardless of radius; pick the cell from the radius, never the
reverse.

Cross-engine exactness (the repo's no-libm policy, cf. the PPS
sampler): the ``euclidean`` metric uses only IEEE-exact double ops
(subtract, multiply, add, compare), so the selected pair set and the
emitted squared distance are bit-identical on any engine — the
registry entry is fully oracle-paired. ``haversine`` (great-circle km)
needs sin/cos/asin, which are libm-dependent; it is offered for real
lat/lon workloads and pinned in pytest against a numpy replay instead
of the DuckDB oracle.

No counterpart in the reference (its geo surface stops at per-row
geohash/H3/timezone enrichment, gold_pipeline.py:65-98); this is the
pair-finding operator a dedup / POI-conflation / neighbor-features
pipeline needs at 100 TB. In-repo lineage: q_geo_radius_join
(plans/relational.py) pioneered the cell pattern inline (two-table,
aggregated, strict <); this module is its reusable generalization —
self-join pair grain, spherical metric, wrap handling, guards.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.session import sized_hash_build


def _celled(
    df: DataFrame,
    x_col: str,
    y_col: str,
    cw_x: float,
    cw_y: float,
    n_lon: int | None = None,
    max_abs_x: float | None = None,
) -> DataFrame:
    cx = F.floor(F.col(x_col) / F.lit(cw_x))
    if max_abs_x is not None:
        # the guard lives INSIDE the cell expression so Catalyst cannot
        # prune it away: rows outside the latitude band the grid was
        # sized for fail loudly instead of silently missing pairs
        cx = F.when(
            F.abs(F.col(x_col)) > F.lit(max_abs_x),
            F.raise_error(F.lit("latitude outside max_abs_lat — grid not lossless")),
        ).otherwise(cx)
    if n_lon is None:
        cy = F.floor(F.col(y_col) / F.lit(cw_y))
    else:
        # modular longitude ring: lon 180 wraps onto cell 0 (same cell
        # as -180), so antimeridian neighbors share/adjoin cells
        cy = F.pmod(F.floor((F.col(y_col) + F.lit(180.0)) / F.lit(cw_y)), F.lit(n_lon))
    # NaN behaves like NULL (row dropped): without the explicit isnan
    # filter a NaN latitude TRIPS the loudness guard (NaN sorts greater
    # than every number in Spark comparisons) with a misleading message,
    # while euclidean silently NULLed the cell — this unifies both
    # metrics on the documented drop semantic.
    valid = (
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & ~F.isnan(F.col(x_col))
        & ~F.isnan(F.col(y_col))
    )
    return df.where(valid).withColumns({"_cx": cx, "_cy": cy})


def radius_join(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: float,
    other: DataFrame | None = None,
    metric: str = "euclidean",
    max_abs_lat: float = 70.0,
) -> DataFrame:
    """Pairs of points within ``radius`` of each other.

    Self-join mode (``other=None``): emits each unordered pair once as
    ``(<id>_a, <id>_b)`` with ``<id>_a < <id>_b``. Two-table mode: emits
    every (a, b) with a from ``points``, b from ``other`` (same column
    names on both sides).

    ``metric="euclidean"``: planar coordinates, radius in coordinate
    units; emits ``dist_sq`` (squared distance — no sqrt, so the value
    is IEEE-exact and cross-engine hashable). ``metric="haversine"``:
    x=lat, y=lon in degrees, radius in km; emits ``dist_km``. Rows with
    |lat| > ``max_abs_lat`` are rejected (raise) in haversine mode —
    the longitude cell width is sized by the worst-case degrees-per-km
    at that latitude, so the bound is what makes the grid lossless.
    Longitude cells form a modular ring (neighbor offsets wrap mod n),
    so antimeridian pairs (lon 179.9 vs -179.9) are found like any
    others. NULL and NaN coordinates drop the row (both metrics).

    Join strategy follows size (``core.session.sized_hash_build``):
    a home-cell (build) side Catalyst estimates at or under
    ``spark.sql.autoBroadcastJoinThreshold`` is broadcast; a bigger
    one is repartitioned on the cell keys and hash-built, sized from a
    ``count()`` of the build-side input.
    """
    if metric not in ("euclidean", "haversine"):
        raise ValueError(f"unknown metric {metric!r}")
    if radius <= 0:
        raise ValueError("radius must be positive")
    for c in ("_cx", "_cy"):
        if c in points.columns or (other is not None and c in other.columns):
            raise ValueError(f"input must not already have a {c!r} column")

    if metric == "euclidean":
        # 1e-6 relative margin: the float residual can admit a pair
        # whose true delta exceeds r by an ulp; with cw > r such a pair
        # still spans at most one cell boundary (see module docstring)
        cw_x = cw_y = float(radius) * 1.000001
    else:
        # km -> degrees, EXACT spherical bounds (a linear 111.045-km/deg
        # approximation under-sizes the lon cell near the latitude bound
        # and silently loses boundary pairs — caught by the replay test):
        # along a meridian dist = Re*dlat, so dlat_max = R/Re; from the
        # haversine identity with both |lat| <= max_abs_lat,
        # dlon_max = 2*asin(sin(R/(2Re)) / cos(max_abs_lat)). A 1e-6
        # relative margin absorbs float rounding in the cell arithmetic.
        if not 0.0 < max_abs_lat < 90.0:
            raise ValueError("max_abs_lat must be in (0, 90)")
        earth_r = 6371.0088
        cw_x = math.degrees(float(radius) / earth_r) * 1.000001
        s = math.sin(float(radius) / (2 * earth_r)) / math.cos(math.radians(max_abs_lat))
        if s >= 1.0:
            # radius spans the whole lon range at the band edge: one
            # ring cell covers all longitudes (degenerates gracefully)
            min_cw_y = 360.0
        else:
            min_cw_y = math.degrees(2 * math.asin(s)) * 1.000001

    self_mode = other is None
    if metric == "haversine":
        # longitude is periodic: tile it with n equal ring cells of
        # width 360/n >= the lossless minimum, neighbor offsets mod n —
        # antimeridian pairs land in the same/adjacent cells (the
        # haversine residual is already wrap-correct via sin^2(dlon/2))
        n_lon = max(1, int(360.0 // min_cw_y))
        cw_y = 360.0 / n_lon
        lon_offsets = (-1, 0, 1) if n_lon >= 3 else tuple(range(n_lon))
        guard = max_abs_lat
    else:
        n_lon = None
        lon_offsets = (-1, 0, 1)
        guard = None
    # self mode: the 5-cell half-neighborhood finds each cross-cell
    # pair exactly once (module docstring); needs +1 and -1 to be
    # distinct on the lon ring, so degenerate 1-2 cell rings keep the
    # full neighborhood + id-order filter
    half = self_mode and (n_lon is None or n_lon >= 3)
    if half:
        offsets = [(0, 0), (0, 1), (1, -1), (1, 0), (1, 1)]
    else:
        offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in lon_offsets]

    if self_mode:
        # id-order dedup (same-cell pairs) and least/greatest output
        # normalization both drop null-id rows anyway — make the drop
        # explicit so the half-neighborhood path cannot leak them
        points = points.where(F.col(id_col).isNotNull())
    left = _celled(points, x_col, y_col, cw_x, cw_y, n_lon=n_lon, max_abs_x=guard)
    right = _celled(
        other if other is not None else points,
        x_col, y_col, cw_x, cw_y, n_lon=n_lon, max_abs_x=guard,
    )

    def _cy_off(dy: int):
        shifted = F.col("_cy") + F.lit(dy)
        if n_lon is not None:
            shifted = F.pmod(shifted, F.lit(n_lon))
        return shifted

    a = left.select(
        F.col(id_col).alias(f"{id_col}_a"),
        F.col(x_col).alias("_xa"),
        F.col(y_col).alias("_ya"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("_cx") + F.lit(dx)).alias("cx"),
                        _cy_off(dy).alias("cy"),
                        F.lit(dx == 0 and dy == 0).alias("home"),
                    )
                    for dx, dy in offsets
                ]
            )
        ).alias("_cell"),
    ).select(
        f"{id_col}_a", "_xa", "_ya",
        F.col("_cell.cx").alias("_cx"), F.col("_cell.cy").alias("_cy"),
        F.col("_cell.home").alias("_home"),
    )
    b = right.select(
        F.col(id_col).alias(f"{id_col}_b"),
        F.col(x_col).alias("_xb"),
        F.col(y_col).alias("_yb"),
        "_cx", "_cy",
    )
    build_src = other if other is not None else points
    b = sized_hash_build(b, ["_cx", "_cy"], build_src.count)
    cand = a.join(b, ["_cx", "_cy"])
    if self_mode:
        if half:
            # cross-cell candidates are already unique; only same-cell
            # (home) candidates need the id-order dedup
            cand = cand.where(
                ~F.col("_home")
                | (F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
            )
        else:
            cand = cand.where(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))

    if metric == "euclidean":
        dx = F.col("_xa") - F.col("_xb")
        dy = F.col("_ya") - F.col("_yb")
        dist = (dx * dx + dy * dy).alias("dist_sq")
        pred = (dx * dx + dy * dy) <= F.lit(float(radius) * float(radius))
    else:
        lat1, lat2 = F.radians("_xa"), F.radians("_xb")
        dlat = F.radians(F.col("_xb") - F.col("_xa")) / 2
        dlon = F.radians(F.col("_yb") - F.col("_ya")) / 2
        h = F.sin(dlat) * F.sin(dlat) + F.cos(lat1) * F.cos(lat2) * F.sin(dlon) * F.sin(dlon)
        # clamp for antipodal rounding; 6371.0088 = IUGG mean radius
        km = F.lit(2 * 6371.0088) * F.asin(F.sqrt(F.least(h, F.lit(1.0))))
        dist = km.alias("dist_km")
        pred = km <= F.lit(float(radius))

    if self_mode and half:
        # cross-cell pairs surface in cell order, not id order —
        # normalize so the contract (<id>_a < <id>_b) holds
        return cand.where(pred).select(
            F.least(F.col(f"{id_col}_a"), F.col(f"{id_col}_b")).alias(f"{id_col}_a"),
            F.greatest(F.col(f"{id_col}_a"), F.col(f"{id_col}_b")).alias(f"{id_col}_b"),
            dist,
        )
    return cand.where(pred).select(f"{id_col}_a", f"{id_col}_b", dist)
