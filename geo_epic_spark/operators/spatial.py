"""Spatial assignment joins — the engine's flagship operators.

Re-expresses the reference's BallTree nearest-neighbor lookups
(`geoEpic/utils/raster_utils.py:16-30`, `:198-236`), SDA point-in-polygon
intersection (`geoEpic/soil/sda.py:59-100`) and zonal statistics
(`geoEpic/utils/raster_utils.py:53-108`) as cell-indexed DataFrame joins:

  1. both sides are keyed to lattice cells by pure Column arithmetic
     (geo_epic_spark.cells — JVM-side, codegen),
  2. a cell equi-join produces candidates (broadcast when one side is small;
     salting + AQE handle dense-cell skew),
  3. a ray-cast fold inside the join condition refines candidates (exact
     PIP, JVM-side but interpreted: ``aggregate`` is a CodegenFallback, so
     the probing join runs outside whole-stage codegen) or a window ranks
     candidates by distance (kNN).

At 100 TB the expensive part is the shuffle of the big side, which happens
exactly once on the cell key; the polygon/grid side is broadcast or
pre-exploded and reused.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geo_epic_spark import cells


# ---------------------------------------------------------------------------
# point-in-polygon refine (pure Column expression)
# ---------------------------------------------------------------------------

def pip_expr(px: Column, py: Column, xs: Column, ys: Column) -> Column:
    """Ray-cast point-in-polygon as a pure Column expression — a boolean-XOR
    fold over the polygon edges via ``aggregate`` (higher-order function).

    Stays entirely JVM-side, so the PIP refine adds no Python/Arrow hop to
    the candidate stream. It is NOT codegen'd: ``ArrayAggregate`` is a
    CodegenFallback, so any operator holding this expression (here the
    broadcast hash join whose condition it sits in) runs outside
    whole-stage codegen and evaluates the fold per edge, interpreted.
    Semantics identical to
    geometry.points_in_polygon (half-open edges). Horizontal edges are safe:
    the crossing test's first clause is false when ys[i] == ys[j], which
    blankets the NaN the 0/0 slope would produce.
    """
    n = F.size(xs)

    def edge(acc: Column, i: Column) -> Column:
        j = F.when(i == 1, n).otherwise(i - 1)
        xi, yi = F.element_at(xs, i), F.element_at(ys, i)
        xj, yj = F.element_at(xs, j), F.element_at(ys, j)
        crosses = ((yi > py) != (yj > py)) & (
            px < (xj - xi) * (py - yi) / (yj - yi) + xi
        )
        return acc != crosses  # boolean XOR

    fold = F.aggregate(F.sequence(F.lit(1), n), F.lit(False), edge)
    # Catalyst (Spark 4.1) under-counts a lambda's captured outer attributes
    # when computing predicate references, so a bare HOF filter after a join
    # gets pushed to the polygon side and fails binding (ATTRIBUTE_NOT_FOUND).
    # Wrapping in one atomic CASE that references px/py at the top level makes
    # the cross-side dependency visible and blocks the bogus pushdown.
    return F.when(px.isNotNull() & py.isNotNull(), fold).otherwise(F.lit(False))


def _maybe_broadcast(df: DataFrame, do: bool) -> DataFrame:
    return F.broadcast(df) if do else df


def add_salt(df: DataFrame, key: str | Column, buckets: int,
             name: str = "salt") -> DataFrame:
    """Explicit skew salt: deterministic bucket from a secondary hash.

    Used on the big (probe) side of a dense-cell join; the build side is
    replicated ``buckets`` times via ``explode(sequence(...))`` by the caller.
    North rule: "skew from dense cells handled with salted broadcast joins".
    """
    k = F.col(key) if isinstance(key, str) else key
    return df.withColumn(name, F.pmod(F.xxhash64(k), F.lit(buckets)))


def replicate_for_salt(df: DataFrame, buckets: int, name: str = "salt") -> DataFrame:
    """Replicate the (small, broadcast) build side across all salt buckets."""
    return df.withColumn(name, F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))))


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    res: float = cells.RES_1KM * 4,
    lon: str = "lon",
    lat: str = "lat",
    poly_id: str = "poly_id",
    xs: str = "xs",
    ys: str = "ys",
    how: str = "inner",
    broadcast_polys: bool = True,
    keep_poly_cols: list[str] | None = None,
) -> DataFrame:
    """Point-in-polygon assignment join.

    Each point row gains the ``poly_id`` (and ``keep_poly_cols``) of every
    polygon containing it. Semantics follow the reference's WKT-intersection
    queries (`soil/sda.py:59-100`): inner drops unmatched points, 'left'
    keeps them with null poly_id.

    Plan shape: polys → explode covering cells (bbox superset, pure arithmetic)
    → equi-join on cell (broadcast if small) → exact ray-cast refine. A
    (point, polygon) candidate appears exactly once because a point has
    exactly one cell, so no post-join dedup is needed. The refine is
    ``pip_expr``, a higher-order-function fold inside the join condition.
    The fold is a CodegenFallback, so the BroadcastHashJoin itself runs
    outside whole-stage codegen (no ``*(n)`` prefix in the executed plan,
    while its probe-side Project is codegen'd).
    """
    keep = keep_poly_cols or []
    poly_cells = polys.select(
        F.col(poly_id).alias("__pid"),
        F.col(xs).alias("__xs"),
        F.col(ys).alias("__ys"),
        # per-polygon bbox, computed ONCE on the (small) build side: the
        # join condition rejects out-of-box candidates with four scalar
        # compares before paying the O(vertices) ray-cast fold
        F.array_min(F.col(xs)).alias("__bx0"),
        F.array_max(F.col(xs)).alias("__bx1"),
        F.array_min(F.col(ys)).alias("__by0"),
        F.array_max(F.col(ys)).alias("__by1"),
        *[F.col(c) for c in keep],
        F.explode(cells.cover_polygon(F.col(xs), F.col(ys), res)).alias("__cell"),
    )
    pts = points.withColumn("__cell", cells.cell_id(F.col(lon), F.col(lat), res))
    build = _maybe_broadcast(poly_cells, broadcast_polys)
    # ray-cast refine INSIDE the join condition: the broadcast hash join
    # evaluates it while probing, so non-matching candidates never
    # materialize rows carrying the polygon vertex arrays (measurably
    # less memory traffic than join-then-filter at high core counts).
    # Conjunct order matters: the condition short-circuits left-to-right,
    # so the bbox compares cull candidates before the HOF fold runs.
    cond = (
        (pts["__cell"] == poly_cells["__cell"])
        & (pts[lon] >= poly_cells["__bx0"]) & (pts[lon] <= poly_cells["__bx1"])
        & (pts[lat] >= poly_cells["__by0"]) & (pts[lat] <= poly_cells["__by1"])
        & pip_expr(pts[lon], pts[lat], poly_cells["__xs"], poly_cells["__ys"])
    )
    hit = (
        pts.join(build, cond, "inner")
        .select(*[pts[c] for c in points.columns],
                poly_cells["__pid"].alias(poly_id),
                *[poly_cells[c] for c in keep])
    )
    if how == "inner":
        return hit
    if how == "left":
        matched = hit
        missed = pts.drop("__cell").join(
            hit.select(*[F.col(c) for c in points.columns]).distinct(),
            on=points.columns, how="left_anti",
        ).withColumn(poly_id, F.lit(None).cast("long"))
        for c in keep:
            missed = missed.withColumn(c, F.lit(None))
        return matched.unionByName(missed)
    raise ValueError(f"how={how!r} not supported (inner|left)")


def bbox_join(
    points: DataFrame,
    boxes: DataFrame,
    res: float = cells.RES_1KM * 4,
    lon: str = "lon",
    lat: str = "lat",
    box_id: str = "poly_id",
    x0: str = "x0",
    y0: str = "y0",
    x1: str = "x1",
    y1: str = "y1",
    broadcast_boxes: bool = True,
) -> DataFrame:
    """Axis-aligned rectangle containment join (reference analog: bbox clip,
    `utils/crop_csb.py:23-35`; SURVEY P6). Semantically pip_join for
    rectangles, but the refine is four comparisons — fully inside
    whole-stage codegen, ~10x the general ray-cast's per-candidate speed.
    Use for bounding-box layers (tiles, footprints, clip regions); fall back
    to pip_join for true polygons.

    Half-open [x0, x1) × [y0, y1) containment mirrors pip_join's half-open
    edge rule so rectangles tile without double-counting boundary points.
    """
    box_cells = boxes.select(
        F.col(box_id).alias("__pid"),
        F.col(x0).alias("__x0"), F.col(y0).alias("__y0"),
        F.col(x1).alias("__x1"), F.col(y1).alias("__y1"),
        F.explode(
            cells.cover_bbox(F.col(x0), F.col(y0), F.col(x1), F.col(y1), res)
        ).alias("__cell"),
    )
    pts = points.withColumn("__cell", cells.cell_id(F.col(lon), F.col(lat), res))
    build = _maybe_broadcast(box_cells, broadcast_boxes)
    cond = (
        (pts["__cell"] == box_cells["__cell"])
        & (pts[lon] >= box_cells["__x0"]) & (pts[lon] < box_cells["__x1"])
        & (pts[lat] >= box_cells["__y0"]) & (pts[lat] < box_cells["__y1"])
    )
    return pts.join(build, cond, "inner").select(
        *[pts[c] for c in points.columns],
        box_cells["__pid"].alias(box_id),
    )


# ---------------------------------------------------------------------------
# nearest-grid (kNN) join — replaces BallTree find_nearest
# ---------------------------------------------------------------------------

def _dist2_deg(px: Column, py: Column, gx: Column, gy: Column) -> Column:
    """Squared euclidean distance on raw degrees — bit-exact, and faithful to
    the reference's default minkowski-on-degrees metric
    (`utils/raster_utils.py:16` ``metric='minkowski'``)."""
    return (px - gx) * (px - gx) + (py - gy) * (py - gy)


def _haversine_km(px: Column, py: Column, gx: Column, gy: Column) -> Column:
    r = F.lit(6371.0088)
    p1, p2 = F.radians(py), F.radians(gy)
    dlat = F.radians(gy - py)
    dlon = F.radians(gx - px)
    h = F.pow(F.sin(dlat / 2), 2) + F.cos(p1) * F.cos(p2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2) * r * F.asin(F.sqrt(h))


def _nearest_k(cand: DataFrame, point_cols: list[str], key_cols: list[str],
               k: int) -> DataFrame:
    """Per-point top-k of the ``(__gid, __d)`` candidates, ties broken by
    (distance, grid id): point columns + ``__gid``, ``__rk``, ``__d``."""
    if k == 1:
        # min_by over structs aggregates map-side before the shuffle (one
        # surviving row per point per input partition) instead of the full
        # candidate shuffle a row_number window needs. Its struct buffers
        # are not hash-eligible, so both halves plan as a SortAggregate: the
        # partial one sorts every candidate map-side (~1M on site_assign).
        # A hash-eligible min_by(gid, d) is faster but breaks the
        # (distance, grid id) tie rule; see ROADMAP.
        best = cand.groupBy(*[F.col(c) for c in point_cols]).agg(
            F.min_by(
                F.struct(F.col("__gid"), F.col("__d")),
                F.struct(F.col("__d"), F.col("__gid")),
            ).alias("__b")
        )
        return best.select(
            *point_cols,
            F.col("__b.__gid").alias("__gid"),
            F.lit(1).alias("__rk"),
            F.col("__b.__d").alias("__d"),
        )
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
        F.col("__d").asc(), F.col("__gid").asc()
    )
    return cand.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= k)


def nearest_grid_join(
    points: DataFrame,
    grid: DataFrame,
    res: float,
    k: int = 1,
    metric: str = "euclid_deg",
    point_id: str | None = None,
    point_lon: str = "lon",
    point_lat: str = "lat",
    grid_id: str = "grid_id",
    grid_lon: str = "lon",
    grid_lat: str = "lat",
    max_ring: int = 8,
    fallback: str = "brute",
) -> DataFrame:
    """Assign each point its k nearest grid rows (BallTree replacement,
    `utils/raster_utils.py:16-30`; soil/weather assignment callers
    `soil/utils.py:5-12`, `weather/main.py:23-26`).

    Iterative k-ring expansion: probe the (2r+1)^2 cell block around each
    point's cell at r = 1, 2, 4, ... A candidate set is provably complete when
    the k-th best distance is below ``r * res`` (any grid point outside the
    block is at least r*res degrees away in one axis); points that fail the
    guarantee escalate to the next ring. Each round is materialized with a
    lazily-cleaned ``localCheckpoint`` and one ``isEmpty`` action decides
    whether another ring is needed, so a dense lattice finishes in one round.
    Rings 1 and 2 broadcast the k-ring-exploded grid; wider rings explode
    the (few) pending points and broadcast the grid as is. Ties broken by
    (distance, grid_id) — deterministic, unlike BallTree's insertion order.

    Output: point columns + ``grid_id``, ``nn_rank`` (1..k), ``nn_dist``
    (squared degrees for euclid_deg, km for haversine).

    fallback='brute' (default) matches BallTree semantics exactly: points
    farther than ``max_ring`` rings from any grid cell are resolved by a
    brute-force scan of the (broadcast) grid — the candidate set is the
    whole grid, so *every* point gets its true k nearest regardless of
    distance. fallback='drop' keeps only ring-resolved points (use with
    max_ring=1 for the covered-raster fast path where the fallback branch
    is provably empty and its plan weight is pure overhead).
    """
    dist = (_dist2_deg if metric == "euclid_deg" else _haversine_km)(
        F.col(point_lon), F.col(point_lat), F.col("__glon"), F.col("__glat")
    )
    # max_ring=1 is the "covered raster" fast path (J2 nearest-pixel
    # sampling): when the grid spans the probe area at spacing == res, the
    # 3x3 ring-1 block provably contains the nearest lattice point
    # (|dx|,|dy| <= spacing/2 < res); with fallback='drop' the guarantee
    # check and the pending-work anti-join are skipped entirely — one
    # broadcast join, one partial top-1 aggregate, no extra action.
    # guarantee radius in the distance's own units
    def guard(r: int) -> Column:
        if metric == "euclid_deg":
            return F.lit(float(r * res) ** 2)
        # haversine lower bound for anything outside the (2r+1)^2 block:
        # the escape axis is either latitude (>= r*res deg meridian,
        # ~110.574 km/deg) or longitude (>= r*res deg along a parallel,
        # ~111.32*cos(lat') km/deg, lat' up to |lat| + r*res). Take the
        # smaller — using the meridian constant alone over-admits results at
        # mid-latitudes where a closer cell can sit just outside the ring.
        lat_abs = F.abs(F.col(point_lat)) + F.lit(float(r * res))
        lon_km_per_deg = F.lit(111.32) * F.cos(F.radians(F.least(lat_abs, F.lit(89.9))))
        return (
            F.lit(float(r * res) * 0.99)
            * F.least(F.lit(110.574), lon_km_per_deg)
        )

    g = grid.select(
        F.col(grid_id).alias("__gid"),
        F.col(grid_lon).alias("__glon"),
        F.col(grid_lat).alias("__glat"),
        cells.cell_id(F.col(grid_lon), F.col(grid_lat), res).alias("__gcell"),
    )

    pending = points.withColumn(
        "__pcell", cells.cell_id(F.col(point_lon), F.col(point_lat), res)
    )
    point_cols = points.columns
    # window/anti-join key: a unique point id keeps the shuffle key narrow;
    # falling back to all point columns is correct but wider.
    key_cols = [point_id] if point_id else point_cols

    def project(df: DataFrame) -> DataFrame:
        return df.select(
            *point_cols,
            F.col("__gid").alias(grid_id),
            F.col("__rk").alias("nn_rank"),
            F.col("__d").alias("nn_dist"),
        )

    results: list[DataFrame] = []
    r = 1
    while True:
        # Chebyshev symmetry: point-cell within ring r of grid-cell iff the
        # reverse holds — so expand whichever side is cheaper. Small rings
        # explode the (broadcast) grid side, leaving the big point stream
        # un-multiplied; escalation rounds (few pending points) explode the
        # point side to avoid an 18M-row broadcast at large r.
        if r <= 2:
            g_r = F.broadcast(
                g.withColumn("__cell", F.explode(cells.k_ring(F.col("__gcell"), r)))
            )
            probe = pending.withColumn("__cell", F.col("__pcell"))
        else:
            g_r = F.broadcast(g.withColumn("__cell", F.col("__gcell")))
            probe = pending.withColumn(
                "__cell", F.explode(cells.k_ring(F.col("__pcell"), r))
            )
        cand = probe.join(g_r.drop("__gcell"), "__cell", "inner").withColumn("__d", dist)
        topk = _nearest_k(cand, point_cols, key_cols, k)
        final_ring = r >= max_ring
        # At the final ring, keeping unverified candidates is only sound for
        # fallback='drop' (documented best-within-block semantics). For
        # fallback='brute' the guard check still applies: a point whose best
        # in-block candidate sits at >= guard(max_ring) may have a closer
        # grid point just outside the block (diagonal corner ~1.41*r*res),
        # and a k>1 point with < k in-block candidates is short — both must
        # fall through to the brute pass for BallTree-exact results.
        if final_ring and fallback != "brute":
            done = topk
        elif k == 1:
            done = topk.filter(F.col("__d") < guard(r))
        else:
            # complete iff we found k candidates AND the worst is inside
            # the guarantee radius
            w2 = Window.partitionBy(*[F.col(c) for c in key_cols])
            done = topk.withColumn("__kmax", F.max("__d").over(w2)).withColumn(
                "__kcnt", F.count(F.lit(1)).over(w2)
            ).filter(
                (F.col("__kcnt") >= k) & (F.col("__kmax") < guard(r))
            ).drop("__kmax", "__kcnt")
        if final_ring:
            results.append(project(done))
            break
        # materialize this round and probe for stragglers: dense lattices
        # finish in one round, so paying one isEmpty() action here beats
        # shipping a 4-round chained plan of anti-joins that all turn out
        # empty (measured 3x on the bench grid). Shared via lazily-cleaned
        # localCheckpoint, not cache(): checkpoint blocks are freed by the
        # ContextCleaner when the DataFrame is GC'd, so repeated calls in a
        # long session don't leak storage (same lifecycle as
        # dedup.minhash_lsh_pairs).
        done = done.localCheckpoint(eager=False)
        results.append(project(done))
        pending_next = pending.join(
            done.select(*key_cols).distinct(), on=key_cols, how="left_anti"
        )
        if pending_next.isEmpty():
            break
        pending = pending_next
        r *= 2

    out = results[0]
    for df in results[1:]:
        out = out.unionByName(df)
    if fallback == "brute":
        # BallTree-exact completion: points with no candidate within
        # max_ring rings scan the whole (broadcast) grid. The branch is
        # lazily empty when the rings resolved everything — its cost is one
        # anti-join over the final pending set.
        rest = pending.join(
            results[-1].select(*key_cols).distinct(), on=key_cols, how="left_anti"
        ).drop("__pcell")
        bcand = rest.crossJoin(F.broadcast(g.drop("__gcell"))).withColumn("__d", dist)
        out = out.unionByName(project(_nearest_k(bcand, point_cols, key_cols, k)))
    return out


# ---------------------------------------------------------------------------
# zonal statistics + raster<->vector
# ---------------------------------------------------------------------------

def zonal_stats(
    raster: DataFrame,
    polys: DataFrame,
    value: str,
    res: float = cells.RES_1KM * 4,
    stats: tuple[str, ...] = ("mean", "median", "mode", "count"),
    **pip_kwargs,
) -> DataFrame:
    """Polygon -> raster aggregate (`utils/raster_utils.py:53-108`): PIP-join
    the raster cell centers into polygons, then groupBy(poly_id).agg.

    mean/median/mode/count map to avg / exact median / mode / count — the same
    trio the reference computes per masked polygon (`:60-72`)."""
    poly_id = pip_kwargs.get("poly_id", "poly_id")
    joined = pip_join(raster, polys, res=res, **pip_kwargs)
    aggs = []
    if "mean" in stats:
        aggs.append(F.avg(value).alias(f"{value}_mean"))
    if "median" in stats:
        aggs.append(F.median(value).alias(f"{value}_median"))
    if "mode" in stats:
        aggs.append(F.mode(value).alias(f"{value}_mode"))
    if "count" in stats:
        aggs.append(F.count(value).alias("n_cells"))
    return joined.groupBy(poly_id).agg(*aggs)


def rasterize(
    polys: DataFrame,
    res: float,
    poly_id: str = "poly_id",
    xs: str = "xs",
    ys: str = "ys",
) -> DataFrame:
    """Vector -> raster: burn polygons onto the lattice, one row per covered
    cell (analog of `weather/download_daily.py:74-79` geometry_mask and the
    zone rasterization in `utils/raster_utils.py`). Overlaps resolve to the
    smallest poly_id (deterministic). Output: (cell_id, lon, lat, zone)."""
    cand = polys.select(
        F.col(poly_id).alias("zone"),
        F.col(xs).alias("__xs"),
        F.col(ys).alias("__ys"),
        F.explode(cells.cover_polygon(F.col(xs), F.col(ys), res)).alias("cell_id"),
    )
    lon, lat = cells.cell_center(F.col("cell_id"), res)
    cand = cand.withColumn("lon", lon).withColumn("lat", lat)
    hit = cand.filter(
        pip_expr(F.col("lon"), F.col("lat"), F.col("__xs"), F.col("__ys"))
    )
    return hit.groupBy("cell_id", "lon", "lat").agg(F.min("zone").alias("zone"))


def vectorize(
    raster: DataFrame,
    zone: str = "zone",
    value: str | None = None,
) -> DataFrame:
    """Raster -> vector: collapse a cell table back to per-zone rows with
    extent + aggregate (inverse of rasterize; round-trip tested)."""
    aggs = [
        F.count(F.lit(1)).alias("n_cells"),
        F.min("lon").alias("lon_min"), F.max("lon").alias("lon_max"),
        F.min("lat").alias("lat_min"), F.max("lat").alias("lat_max"),
    ]
    if value is not None:
        aggs.append(F.avg(value).alias(f"{value}_mean"))
    return raster.groupBy(zone).agg(*aggs)


# ---------------------------------------------------------------------------
# Polygon geometry metrics (shoelace) + multi-resolution cell rollup
# ---------------------------------------------------------------------------

def polygon_stats(
    polys: DataFrame,
    xs: str = "xs",
    ys: str = "ys",
) -> DataFrame:
    """Per-polygon shoelace metrics — signed area, |area|, perimeter,
    centroid — as pure Column higher-order functions over the vertex
    arrays (map-only, zero shuffle, no UDF; the geopandas `.area` /
    `.centroid` analog of the reference's CSB handling,
    `utils/crop_csb.py:65-78`, in planar degree units like the
    reference's own lat/lon rasters).

    Shoelace with wraparound: 2A = Σ (x_i·y_{i+1} − x_{i+1}·y_i);
    centroid_x = Σ (x_i + x_{i+1})·cross_i / (3·2A) (Bourke's formula).
    Degenerate (zero-area) polygons get NULL centroids rather than NaN.
    Appends: area (|·|), signed_area, perimeter, cx, cy.
    """
    x, y = F.col(xs), F.col(ys)
    n = F.size(x)
    idx = F.sequence(F.lit(0), n - F.lit(1))

    def at(arr, i):  # 0-based helper over Spark's 1-based element_at
        return F.element_at(arr, (i % n) + F.lit(1))

    def fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)

    cross = F.transform(idx, lambda i: at(x, i) * at(y, i + 1) - at(x, i + 1) * at(y, i))
    a2 = fold(cross)
    per = fold(
        F.transform(
            idx,
            lambda i: F.sqrt(
                F.pow(at(x, i + 1) - at(x, i), F.lit(2.0))
                + F.pow(at(y, i + 1) - at(y, i), F.lit(2.0))
            ),
        )
    )
    cx_num = fold(F.transform(idx, lambda i: (at(x, i) + at(x, i + 1))
                              * (at(x, i) * at(y, i + 1) - at(x, i + 1) * at(y, i))))
    cy_num = fold(F.transform(idx, lambda i: (at(y, i) + at(y, i + 1))
                              * (at(x, i) * at(y, i + 1) - at(x, i + 1) * at(y, i))))
    nz = a2 != 0.0
    return polys.select(
        "*",
        F.abs(a2 / 2.0).alias("area"),
        (a2 / 2.0).alias("signed_area"),
        per.alias("perimeter"),
        F.when(nz, cx_num / (3.0 * a2)).alias("cx"),
        F.when(nz, cy_num / (3.0 * a2)).alias("cy"),
    )


def sql_polygon_stats(xs: str = "xs", ys: str = "ys") -> dict[str, str]:
    """DuckDB mirrors of `polygon_stats`'s five output expressions —
    identical per-element arithmetic (list lambdas), identical left-fold
    summation (list_reduce over a 0.0-prefixed list, matching Spark's
    F.aggregate fold order element-for-element)."""
    n = f"len({xs})"

    def at(arr, i):  # DuckDB lists are 1-based, like element_at
        return f"{arr}[CAST(({i}) % {n} AS BIGINT) + 1]"

    def fold(body: str) -> str:
        terms = f"list_transform(range(0, {n}), i -> {body})"
        return f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {terms}), (acc, v) -> acc + v)"

    cross = f"{at(xs, 'i')} * {at(ys, 'i + 1')} - {at(xs, 'i + 1')} * {at(ys, 'i')}"
    a2 = fold(cross)
    per = fold(
        f"sqrt(pow({at(xs, 'i + 1')} - {at(xs, 'i')}, 2.0)"
        f" + pow({at(ys, 'i + 1')} - {at(ys, 'i')}, 2.0))"
    )
    cx_num = fold(f"({at(xs, 'i')} + {at(xs, 'i + 1')}) * ({cross})")
    cy_num = fold(f"({at(ys, 'i')} + {at(ys, 'i + 1')}) * ({cross})")
    return {
        "area": f"abs(({a2}) / 2.0)",
        "signed_area": f"(({a2}) / 2.0)",
        "perimeter": per,
        "cx": f"CASE WHEN ({a2}) <> 0.0 THEN ({cx_num}) / (3.0 * ({a2})) END",
        "cy": f"CASE WHEN ({a2}) <> 0.0 THEN ({cy_num}) / (3.0 * ({a2})) END",
    }


def cell_rollup(
    points: DataFrame,
    res: float,
    levels: int,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Multi-resolution cell pyramid (the hypertable-rollup pattern over
    the H3/S2-style lattice): count points per cell at ``levels``
    resolutions (res·2^l for l = 0..levels−1) in ONE scan — the level
    fan-out is a map-side array explode of pure-arithmetic cell ids, and
    the single shuffle is the (level, cell) hash aggregate with map-side
    partials. No re-aggregation chain, no self-union re-reading the input.

    Output: (level, res, cell, n_points). A coarser level's count equals
    the sum of its children's (the lattice at res·2^l nests exactly into
    res·2^(l+1) only when cell boundaries align; counts per level are
    computed independently from the raw points, so they are exact at
    every level regardless).
    """
    from geo_epic_spark import cells

    lv = F.explode(
        F.array(*[
            F.struct(
                F.lit(l).alias("level"),
                F.lit(res * (2 ** l)).alias("res"),
                cells.cell_id(F.col(lon), F.col(lat), res * (2 ** l)).alias("cell"),
            )
            for l in range(levels)
        ])
    ).alias("lv")
    return (
        points.select(lv)
        .select("lv.level", "lv.res", "lv.cell")
        .groupBy("level", "res", "cell")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def sql_cell_rollup(
    points_sql: str,
    res: float,
    levels: int,
    lon: str = "lon",
    lat: str = "lat",
) -> str:
    """DuckDB mirror of `cell_rollup`: UNION ALL over levels of the same
    integer cell arithmetic (`cells.sql_cell_id`), then one GROUP BY."""
    from geo_epic_spark import cells

    branches = "\n      UNION ALL\n".join(
        f"SELECT {l} AS level, CAST({res * (2 ** l)!r} AS DOUBLE) AS res, "
        f"{cells.sql_cell_id(lon, lat, res * (2 ** l))} AS cell FROM pts"
        for l in range(levels)
    )
    return f"""
    WITH pts AS ({points_sql}),
    lv AS (
      {branches}
    )
    SELECT level, res, cell, COUNT(*) AS n_points
    FROM lv GROUP BY level, res, cell
    """


def adaptive_cells(
    points: DataFrame,
    base_res: float,
    max_depth: int,
    cap: int,
    lon: str = "lon",
    lat: str = "lat",
    point_id: str | None = None,
) -> DataFrame:
    """Quadtree-adaptive tiling: each point gets the FINEST-grained cell its
    density requires — cells holding more than ``cap`` points split into 4
    children (res/2) recursively, up to ``max_depth`` levels below
    ``base_res``. The north-rule skew answer as a LAYOUT operator: dense
    (urban/irrigated) clusters tile fine, empty country stays coarse, so a
    downstream cell-keyed join or file layout gets balanced partitions
    without salting.

    Because the halved lattices NEST exactly (child cells of k are 2k and
    2k+1 per axis), a child's count never exceeds its parent's — so a
    point's final level is simply the FIRST level whose cell count is
    <= cap (or max_depth). That turns the recursive split into:

      one map-side explode of the per-level cells (pure arithmetic)
      -> one (level, cell) count aggregate           [shuffle 1, tiny out]
      -> broadcast the counts back onto the chains   [no shuffle]
      -> per-point min qualifying level              [shuffle 2, by point]

    Output: point columns + (level, cell, cell_res).

    ``point_id``: name of a UNIQUE per-point key column. Pass it whenever
    the input can contain exact-duplicate rows — the final per-point
    selection groups on this key, so each input row keeps its own output
    row (and the shuffle key is a single long/string, not raw doubles).
    Without it the selection groups on ALL point columns, which collapses
    exact duplicates into one row (documented legacy behavior, kept for
    callers whose rows are known-distinct).
    """
    lv = F.explode(F.array(*[
        F.struct(
            F.lit(l).alias("level"),
            cells.cell_id(F.col(lon), F.col(lat), base_res / (2 ** l)).alias("cell"),
        )
        for l in range(max_depth + 1)
    ])).alias("lv")
    chains = points.select("*", lv).select("*", "lv.level", "lv.cell").drop("lv")
    counts = chains.groupBy("level", "cell").agg(F.count(F.lit(1)).alias("__n"))
    tagged = chains.join(F.broadcast(counts), ["level", "cell"], "inner")
    pick = F.when(
        (F.col("__n") <= cap) | (F.col("level") == max_depth), F.col("level")
    )
    keyed = tagged.withColumn("__ok_level", pick)
    w_cols = [c for c in points.columns]
    if point_id is not None:
        # Unique-key path: group on the id alone; every other point column
        # is constant within the group (id is unique), so min() recovers it
        # deterministically and duplicates-by-value survive as distinct rows.
        rest = [c for c in w_cols if c != point_id]
        best = (
            keyed.where(F.col("__ok_level").isNotNull())
            .groupBy(point_id)
            .agg(
                *[F.min(F.col(c)).alias(c) for c in rest],
                F.min(F.struct(F.col("__ok_level").alias("level"),
                               F.col("cell").alias("cell"))).alias("__s"),
            )
        )
    else:
        best = (
            keyed.where(F.col("__ok_level").isNotNull())
            .groupBy(*w_cols)
            .agg(F.min(F.struct(F.col("__ok_level").alias("level"),
                                F.col("cell").alias("cell"))).alias("__s"))
        )
    return best.select(
        *w_cols,
        F.col("__s.level").alias("level"),
        F.col("__s.cell").alias("cell"),
        (F.lit(float(base_res))
         / F.pow(F.lit(2.0), F.col("__s.level").cast("double"))).alias("cell_res"),
    )


def group_convex_hull(
    points: DataFrame,
    group: str = "group_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Per-group convex hull (Andrew monotone chain in an Arrow-batched
    grouped-pandas stage): one shuffle keyed on the group, then O(n log n)
    per group. Output: group + hull vertex arrays + n_hull + area +
    perimeter + the lex-smallest vertex (a deterministic anchor — the hull
    starts there, CCW), so downstream overlay/PIP operators can consume
    the hull as a normal vertex-array polygon."""
    import pandas as pd

    from geo_epic_spark import geometry

    schema = (
        f"{group} long, xs array<double>, ys array<double>, "
        "n_hull int, area double, perimeter double, x0 double, y0 double"
    )

    def one(pdf: pd.DataFrame) -> pd.DataFrame:
        hx, hy = geometry.convex_hull(pdf[lon].to_numpy(), pdf[lat].to_numpy())
        area = abs(geometry.polygon_area(hx, hy)) if len(hx) >= 3 else 0.0
        per = (
            float(np.hypot(np.diff(np.r_[hx, hx[0]]), np.diff(np.r_[hy, hy[0]])).sum())
            if len(hx) >= 2 else 0.0
        )
        return pd.DataFrame([{
            group: pdf[group].iloc[0],
            "xs": hx.tolist(), "ys": hy.tolist(),
            "n_hull": len(hx), "area": area, "perimeter": per,
            "x0": float(hx[0]) if len(hx) else None,
            "y0": float(hy[0]) if len(hy) else None,
        }])

    return points.groupBy(group).applyInPandas(one, schema=schema)


def simplify_polygons(
    polys: DataFrame,
    tol: float,
    xs: str = "xs",
    ys: str = "ys",
) -> DataFrame:
    """Douglas-Peucker vertex reduction per polygon (map-only Arrow stage):
    replaces the vertex arrays with the simplified ones and appends
    n_before / n_after. The closing edge is preserved by anchoring the
    polyline at the first vertex."""
    import pandas as pd

    from geo_epic_spark import geometry

    out_fields = [f for f in polys.schema.fields if f.name not in (xs, ys)]
    schema_str = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in out_fields]
        + [f"{xs} array<double>", f"{ys} array<double>",
           "n_before int", "n_after int"]
    )

    def batch(it):
        for pdf in it:
            rows = []
            for _, row in pdf.iterrows():
                px = np.asarray(row[xs], dtype=np.float64)
                py = np.asarray(row[ys], dtype=np.float64)
                # close the ring so the last->first edge constrains DP too
                cx, cy = np.r_[px, px[0]], np.r_[py, py[0]]
                sx, sy = geometry.simplify_dp(cx, cy, tol)
                sx, sy = sx[:-1], sy[:-1]  # reopen
                d = {f.name: row[f.name] for f in out_fields}
                d.update({xs: sx.tolist(), ys: sy.tolist(),
                          "n_before": len(px), "n_after": len(sx)})
                rows.append(d)
            yield pd.DataFrame(rows)

    return polys.mapInPandas(batch, schema=schema_str)


def mosaic_best_tile(
    tiles: DataFrame,
    res: float,
    score: Column,
    tile_id: str = "image_id",
    lon_min: str = "lon_min",
    lat_min: str = "lat_min",
    lon_max: str = "lon_max",
    lat_max: str = "lat_max",
    tiebreak: str | None = None,
) -> DataFrame:
    """Best-pixel mosaic selection (the compositing step of every
    satellite-imagery pipeline): each lattice cell covered by >= 1 tile
    picks the tile with the highest ``score`` (resolution, recency, cloud
    score...), ties broken by ascending ``tiebreak`` (default: tile id).

    Plan: map-side covering-cell explode per tile (the cell_rollup /
    cover_bbox shape) -> one (cell)-keyed window argmax. Dense stacks
    (many overlapping tiles on one cell) are the AQE-skew case.

    Output: (cell, tile_id, score) — one row per covered cell.
    """
    tb = tiebreak or tile_id
    fan = tiles.select(
        F.col(tile_id), score.alias("__score"), F.col(tb).alias("__tb"),
        F.explode(cells.cover_bbox(
            F.col(lon_min), F.col(lat_min), F.col(lon_max), F.col(lat_max),
            res)).alias("cell"),
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("__score").desc(), F.col("__tb").asc())
    return (
        fan.withColumn("__rk", F.row_number().over(w))
        .where("__rk = 1")
        .select("cell", tile_id, F.col("__score").alias("score"))
    )
