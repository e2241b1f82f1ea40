"""Distance-threshold spatial joins and grid-density clustering.

Two operators the reference's point workflows imply but never generalize:

* `radius_join` — every (point, center) pair within a fixed planar radius
  (the "all stations within d" query; the reference only does nearest-one,
  `utils/raster_utils.py:16-30`).  Same skeleton as `pip_join`: the small
  side explodes the covering cells of its radius bbox, the big side carries
  exactly ONE cell, the equi-join broadcasts, and the exact distance test
  rides inside the join condition in whole-stage codegen.  A pair appears
  exactly once because a point has exactly one cell — no dedup shuffle.

* `density_cluster` — DBSCAN-flavored clustering at table scale: bucket
  points into lattice cells, keep cells with >= min_pts points (the "core"
  cells), connect 8-adjacent dense cells into components (reusing the
  dedup engine's `cluster_pairs`, large-star/small-star contraction), and
  label every point by its cell's component.  Points in sparse cells are
  noise (NULL cluster).  All shuffles key on cell ids; the component step
  touches only the DENSE CELL list (orders of magnitude smaller than the
  points), which is what makes the algorithm viable at 10^12 points where
  true point-level DBSCAN is not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geo_epic_spark import cells
from geo_epic_spark.operators.dedup import cluster_pairs
from geo_epic_spark.operators.spatial import _dist2_deg, _maybe_broadcast

__all__ = ["radius_join", "density_cluster", "sql_density_cluster"]


def radius_join(
    points: DataFrame,
    centers: DataFrame,
    radius: float,
    res: float | None = None,
    lon: str = "lon",
    lat: str = "lat",
    center_id: str = "center_id",
    center_lon: str = "clon",
    center_lat: str = "clat",
    broadcast_centers: bool = True,
    keep_dist: str | None = "dist2",
) -> DataFrame:
    """All (point, center) pairs with planar distance <= ``radius`` degrees.

    ``res`` is the bucketing cell size (default = radius, which caps the
    per-center covering at <= 9 cells). Output: point columns + center id
    (+ squared distance as ``keep_dist``, exact arithmetic for oracles).
    """
    res = radius if res is None else res
    c_cells = centers.select(
        F.col(center_id),
        F.col(center_lon).alias("__clon"), F.col(center_lat).alias("__clat"),
    ).withColumn(
        "__cell",
        F.explode(cells.cover_bbox(
            F.col("__clon") - radius, F.col("__clat") - radius,
            F.col("__clon") + radius, F.col("__clat") + radius, res)),
    )
    p = points.withColumn("__pcell", cells.cell_id(F.col(lon), F.col(lat), res))
    d2 = _dist2_deg(F.col(lon), F.col(lat), F.col("__clon"), F.col("__clat"))
    joined = p.join(
        _maybe_broadcast(c_cells, broadcast_centers),
        on=(F.col("__pcell") == F.col("__cell")) & (d2 <= F.lit(radius * radius)),
        how="inner",
    )
    out_cols = [c for c in points.columns] + [center_id]
    sel = joined.select(*out_cols, d2.alias("__d2"))
    if keep_dist:
        return sel.withColumnRenamed("__d2", keep_dist)
    return sel.drop("__d2")


def density_cluster(
    points: DataFrame,
    res: float,
    min_pts: int,
    lon: str = "lon",
    lat: str = "lat",
    point_id: str = "point_id",
) -> DataFrame:
    """Grid-density clustering (DBSCAN-lite). Output: every point with its
    ``cell`` and ``cluster_id`` (smallest cell id in its dense component;
    NULL = noise, the point's cell has < min_pts points)."""
    pts = points.withColumn("cell", cells.cell_id(F.col(lon), F.col(lat), res))
    dense = (
        pts.groupBy("cell").agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= min_pts)
        .select("cell")
    )
    # 8-adjacency edges between dense cells: explode the unit shell of each
    # dense cell and semi-join the neighbor back against the dense set. The
    # dense list is small (<= points/min_pts rows), so both sides broadcast
    # naturally; dedup of (a,b)/(b,a) is unnecessary — cluster_pairs
    # orients and dedups edges itself.
    nbr = dense.select(
        F.col("cell").alias("id_a"),
        F.explode(cells.ring_shell(F.col("cell"), 1)).alias("id_b"),
    )
    edges = nbr.join(
        dense.select(F.col("cell").alias("id_b")), on="id_b", how="inner"
    )
    comp = cluster_pairs(dense.select(F.col("cell")), edges, key="cell")
    return pts.join(
        comp.select("cell", "cluster_id"), on="cell", how="left"
    ).select(point_id, "cell", "cluster_id")


def sql_density_cluster(points_sql: str, res: float, min_pts: int,
                        lon: str = "lon", lat: str = "lat",
                        point_id: str = "point_id") -> str:
    """DuckDB mirror: identical cell arithmetic, dense-cell filter, and a
    recursive-CTE transitive closure over the 8-adjacency graph (min
    reachable cell id == the engine's connected-component label)."""
    cid = cells.sql_cell_id(lon, lat, res)
    return f"""
    WITH RECURSIVE pts AS ({points_sql}),
    cellified AS (SELECT {point_id}, {cid} AS cell FROM pts),
    dense AS (
      SELECT cell FROM cellified GROUP BY cell HAVING COUNT(*) >= {min_pts}
    ),
    edges AS (
      SELECT a.cell AS ca, b.cell AS cb
      FROM dense a JOIN dense b
        ON abs((a.cell // 4294967296) - (b.cell // 4294967296)) <= 1
       AND abs((a.cell % 4294967296) - (b.cell % 4294967296)) <= 1
       AND a.cell <> b.cell
    ),
    reach AS (
      SELECT cell AS src, cell AS dst FROM dense
      UNION
      SELECT r.src, e.cb FROM reach r JOIN edges e ON e.ca = r.dst
    ),
    comp AS (SELECT src AS cell, min(dst) AS cluster_id FROM reach GROUP BY src)
    SELECT c.{point_id}, c.cell, comp.cluster_id
    FROM cellified c LEFT JOIN comp ON c.cell = comp.cell
    """


def idw_interpolate(
    targets: DataFrame,
    samples: DataFrame,
    radius: float,
    value: str = "v",
    target_id: str = "target_id",
    lon: str = "lon",
    lat: str = "lat",
    sample_lon: str = "slon",
    sample_lat: str = "slat",
    res: float | None = None,
    broadcast_samples: bool = True,
) -> DataFrame:
    """Inverse-distance-weighted interpolation (power 2): each target gets
    sum(v_i / d_i^2) / sum(1 / d_i^2) over samples within ``radius``.

    Power 2 on squared planar distance needs NO sqrt or pow — weights are
    exact divisions, which keeps the arithmetic dialect-identical for
    oracles. Exact-hit samples (d == 0) dominate: those targets take the
    exact sample value (the smallest such value when several coincide —
    a deterministic tie-break with no sample-id bookkeeping).

    Plan: the `radius_join` covering-cell skeleton (samples explode their
    disk bbox cells and broadcast; targets carry one cell) followed by one
    target-keyed aggregate. The sample VALUE rides through the join as the
    center id column, so no second join is needed. Targets with no sample
    in range emit nothing.
    """
    cand = radius_join(
        targets,
        samples.select(
            F.col(sample_lon).alias("__slon"), F.col(sample_lat).alias("__slat"),
            F.col(value).alias("__v"),
        ),
        radius=radius, res=res, lon=lon, lat=lat,
        center_id="__v", center_lon="__slon", center_lat="__slat",
        broadcast_centers=broadcast_samples, keep_dist="__d2",
    )
    w = F.lit(1.0) / F.col("__d2")
    agg = cand.groupBy(target_id).agg(
        F.sum(F.when(F.col("__d2") == 0, 0.0).otherwise(w * F.col("__v"))).alias("__num"),
        F.sum(F.when(F.col("__d2") == 0, 0.0).otherwise(w)).alias("__den"),
        F.count(F.lit(1)).alias("n_samples"),
        F.min(F.when(F.col("__d2") == 0, F.col("__v"))).alias("__exact_v"),
    )
    out_val = F.coalesce(F.col("__exact_v"), F.col("__num") / F.col("__den"))
    return agg.select(target_id, out_val.alias(f"{value}_idw"), "n_samples")
