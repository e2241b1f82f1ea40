"""Deterministic dual-engine fixture generators.

Every table needed by the engine's test/bench surface (FIXTURES.md) is defined
once as pure integer-hash arithmetic over a row index, and emitted three ways
with bit-identical results:

  * a Spark DataFrame built from ``spark.range(n)`` + Column expressions
    (distributed, JVM-side — the same generator scales to the bench sizes),
  * a DuckDB ``SELECT`` string over ``range(n)`` (the correctness oracle),
  * numpy (unit-test oracles, image-byte generation).

Determinism across engines: the only operations used are int64 mul/add/mod,
division by 2^32 (a power of two — exact in IEEE double), double add/mul, and
comparisons — all exactly-rounded and identical in JVM, DuckDB and numpy.
No transcendental functions, no RNG, no wall clock.

The tile-placement scheme is the graft analog of the reference's lattice
construction (`geoEpic/weather/download_daily.py:62-70`); the hot-spot cluster
(20% of rows into ~0.2% of the AOI) plants the skew the north rule requires
salted/AQE joins to handle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared constants
# ---------------------------------------------------------------------------

AOI = dict(lon0=-100.0, lat0=40.0, w=5.0, h=3.0)
HOT = dict(lon0=-97.0, lat0=41.0, w=0.2, h=0.15)

M = [2654435761, 2246822519, 3266489917, 668265263, 374761393,
     2654435789, 1274126177, 2484345967]

_MOD = 4294967296  # 2^32


# ---------------------------------------------------------------------------
# uniform-hash helpers (the one definition, three dialects)
# ---------------------------------------------------------------------------

def u_col(k: Column, mult: int, add: int) -> Column:
    return ((k * F.lit(mult) + F.lit(add)) % F.lit(_MOD)) / F.lit(float(_MOD))


def u_sql(k: str, mult: int, add: int) -> str:
    return f"((({k} * {mult} + {add}) % {_MOD}) / {float(_MOD)!r})"


def u_np(k: np.ndarray, mult: int, add: int) -> np.ndarray:
    k = np.asarray(k, dtype=np.int64)
    return ((k * np.int64(mult) + np.int64(add)) % np.int64(_MOD)) / float(_MOD)


# ---------------------------------------------------------------------------
# images (meta columns; bytes/phash added by images.full_images)
# ---------------------------------------------------------------------------

def images_meta_df(spark: SparkSession, n: int) -> DataFrame:
    """Image table minus payload: id, dims, fmt, caption, tile bounds, center.

    ``i % 5 == 0`` rows (20%) land in the HOT box (dense-cell skew cluster).
    """
    i = F.col("i")
    u1 = u_col(i, M[0], 17)
    u2 = u_col(i, M[1], 101)
    hot = (i % 5) == 0
    lon_min = F.when(hot, F.lit(HOT["lon0"]) + u1 * F.lit(HOT["w"])).otherwise(
        F.lit(AOI["lon0"]) + u1 * F.lit(AOI["w"]))
    lat_min = F.when(hot, F.lit(HOT["lat0"]) + u2 * F.lit(HOT["h"])).otherwise(
        F.lit(AOI["lat0"]) + u2 * F.lit(AOI["h"]))
    w = F.when(i % 3 == 0, 32).when(i % 3 == 1, 64).otherwise(128).cast("int")
    h = F.when((i / 3).cast("long") % 3 == 0, 32).when(
        (i / 3).cast("long") % 3 == 1, 64).otherwise(128).cast("int")
    lon_max = lon_min + w.cast("double") * F.lit(1e-4)
    lat_max = lat_min + h.cast("double") * F.lit(1e-4)
    fmt = F.when(i % 10 < 7, "png").otherwise("fjpg")
    return (
        spark.range(n).withColumnRenamed("id", "i")
        .select(
            F.format_string("img%012d", i).alias("image_id"),
            i.alias("i"),
            w.alias("w"), h.alias("h"), fmt.alias("fmt"),
            F.format_string("synthetic tile %012d fmt %s %dx%d", i, fmt, w, h).alias("caption"),
            lon_min.alias("lon_min"), lat_min.alias("lat_min"),
            lon_max.alias("lon_max"), lat_max.alias("lat_max"),
            ((lon_min + lon_max) / F.lit(2.0)).alias("cx"),
            ((lat_min + lat_max) / F.lit(2.0)).alias("cy"),
        )
    )


def images_meta_sql(n: int) -> str:
    u1, u2 = u_sql("i", M[0], 17), u_sql("i", M[1], 101)
    return f"""
    SELECT printf('img%012d', i) AS image_id, i,
           w, h, fmt,
           printf('synthetic tile %012d fmt %s %dx%d', i, fmt, w, h) AS caption,
           lon_min, lat_min,
           lon_min + w * 1e-4 AS lon_max,
           lat_min + h * 1e-4 AS lat_max,
           (lon_min + (lon_min + w * 1e-4)) / 2.0 AS cx,
           (lat_min + (lat_min + h * 1e-4)) / 2.0 AS cy
    FROM (
      SELECT i,
        CASE WHEN i % 5 = 0 THEN {HOT['lon0']!r} + {u1} * {HOT['w']!r}
             ELSE {AOI['lon0']!r} + {u1} * {AOI['w']!r} END AS lon_min,
        CASE WHEN i % 5 = 0 THEN {HOT['lat0']!r} + {u2} * {HOT['h']!r}
             ELSE {AOI['lat0']!r} + {u2} * {AOI['h']!r} END AS lat_min,
        CAST(CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 128 END AS INTEGER) AS w,
        CAST(CASE (i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 128 END AS INTEGER) AS h,
        CASE WHEN i % 10 < 7 THEN 'png' ELSE 'fjpg' END AS fmt
      FROM (SELECT CAST(range AS BIGINT) AS i FROM range({n}))
    )
    """


def images_meta_np(n: int) -> dict[str, np.ndarray]:
    i = np.arange(n, dtype=np.int64)
    u1, u2 = u_np(i, M[0], 17), u_np(i, M[1], 101)
    hot = (i % 5) == 0
    lon_min = np.where(hot, HOT["lon0"] + u1 * HOT["w"], AOI["lon0"] + u1 * AOI["w"])
    lat_min = np.where(hot, HOT["lat0"] + u2 * HOT["h"], AOI["lat0"] + u2 * AOI["h"])
    dims = np.array([32, 64, 128])
    w = dims[(i % 3)].astype(np.int32)
    h = dims[((i // 3) % 3)].astype(np.int32)
    fmt = np.where(i % 10 < 7, "png", "fjpg")
    lon_max = lon_min + w * 1e-4
    lat_max = lat_min + h * 1e-4
    return dict(
        image_id=np.array([f"img{v:012d}" for v in i]),
        i=i, w=w, h=h, fmt=fmt,
        caption=np.array([f"synthetic tile {v:012d} fmt {f} {a}x{b}"
                          for v, f, a, b in zip(i, fmt, w, h)]),
        lon_min=lon_min, lat_min=lat_min, lon_max=lon_max, lat_max=lat_max,
        cx=(lon_min + lon_max) / 2.0, cy=(lat_min + lat_max) / 2.0,
    )


# ---------------------------------------------------------------------------
# fields — rectangular CSB-analog polygons (dual-engine)
# ---------------------------------------------------------------------------

def fields_df(spark: SparkSession, p: int) -> DataFrame:
    """CSB field-polygon analog (`utils/crop_csb.py:65-78`): axis-aligned
    rectangles so the DuckDB oracle can express exact containment, while the
    Spark engine still treats them as general vertex-array polygons.
    25% of polygons overlap the HOT cluster."""
    j = F.col("j")
    v1, v2 = u_col(j, M[2], 29), u_col(j, M[3], 71)
    v3, v4 = u_col(j, M[4], 5), u_col(j, M[5], 13)
    hot = (j % 4) == 0
    x0 = F.when(hot, F.lit(HOT["lon0"]) + v1 * F.lit(HOT["w"])).otherwise(
        F.lit(AOI["lon0"]) + v1 * F.lit(AOI["w"]))
    y0 = F.when(hot, F.lit(HOT["lat0"]) + v2 * F.lit(HOT["h"])).otherwise(
        F.lit(AOI["lat0"]) + v2 * F.lit(AOI["h"]))
    wd = F.lit(0.01) + v3 * F.lit(0.05)
    hd = F.lit(0.008) + v4 * F.lit(0.04)
    x1, y1 = x0 + wd, y0 + hd
    return spark.range(p).withColumnRenamed("id", "j").select(
        j.alias("poly_id"),
        F.format_string("CSB%03d%06d", j % 7, j).alias("CSBID"),
        j.alias("SiteID"),
        F.format_string("%05d", F.lit(19000) + j % 10).alias("CNTYFIPS"),
        x0.alias("x0"), y0.alias("y0"), x1.alias("x1"), y1.alias("y1"),
        F.array(x0, x1, x1, x0).alias("xs"),
        F.array(y0, y0, y1, y1).alias("ys"),
        ((x0 + x1) / F.lit(2.0)).alias("lon"),
        ((y0 + y1) / F.lit(2.0)).alias("lat"),
    )


def fields_sql(p: int) -> str:
    v1, v2 = u_sql("j", M[2], 29), u_sql("j", M[3], 71)
    v3, v4 = u_sql("j", M[4], 5), u_sql("j", M[5], 13)
    return f"""
    SELECT j AS poly_id,
           printf('CSB%03d%06d', j % 7, j) AS CSBID,
           j AS SiteID,
           printf('%05d', 19000 + j % 10) AS CNTYFIPS,
           x0, y0, x0 + wd AS x1, y0 + hd AS y1,
           (x0 + (x0 + wd)) / 2.0 AS lon,
           (y0 + (y0 + hd)) / 2.0 AS lat
    FROM (
      SELECT j,
        CASE WHEN j % 4 = 0 THEN {HOT['lon0']!r} + {v1} * {HOT['w']!r}
             ELSE {AOI['lon0']!r} + {v1} * {AOI['w']!r} END AS x0,
        CASE WHEN j % 4 = 0 THEN {HOT['lat0']!r} + {v2} * {HOT['h']!r}
             ELSE {AOI['lat0']!r} + {v2} * {AOI['h']!r} END AS y0,
        0.01 + {v3} * 0.05 AS wd,
        0.008 + {v4} * 0.04 AS hd
      FROM (SELECT CAST(range AS BIGINT) AS j FROM range({p}))
    )
    """


# ---------------------------------------------------------------------------
# point grids (climate-grid analog, `weather/download_daily.py:62-70`)
# ---------------------------------------------------------------------------

def grid_df(spark: SparkSession, nr: int, nc: int, spacing: float,
            lon0: float | None = None, lat0: float | None = None) -> DataFrame:
    lon0 = AOI["lon0"] if lon0 is None else lon0
    lat0 = AOI["lat0"] if lat0 is None else lat0
    g = F.col("g")
    r = (g / F.lit(nc)).cast("long")
    c = g % F.lit(nc)
    return spark.range(nr * nc).withColumnRenamed("id", "g").select(
        g.alias("grid_id"),
        (F.lit(lon0) + (c.cast("double") + F.lit(0.5)) * F.lit(spacing)).alias("lon"),
        (F.lit(lat0) + (r.cast("double") + F.lit(0.5)) * F.lit(spacing)).alias("lat"),
    )


def grid_sql(nr: int, nc: int, spacing: float,
             lon0: float | None = None, lat0: float | None = None) -> str:
    lon0 = AOI["lon0"] if lon0 is None else lon0
    lat0 = AOI["lat0"] if lat0 is None else lat0
    return f"""
    SELECT g AS grid_id,
           {lon0!r} + ((g % {nc}) + 0.5) * {spacing!r} AS lon,
           {lat0!r} + ((g // {nc}) + 0.5) * {spacing!r} AS lat
    FROM (SELECT CAST(range AS BIGINT) AS g FROM range({nr * nc}))
    """


def soil_grid_df(spark: SparkSession, nr: int, nc: int, spacing: float) -> DataFrame:
    """Raster-as-table (SSURGO mukey analog, `utils/raster_utils.py:33-51`):
    8x8 blocks of constant mukey zones, ~2% nodata cells dropped."""
    base = grid_df(spark, nr, nc, spacing)
    g = F.col("grid_id")
    r = (g / F.lit(nc)).cast("long")
    c = g % F.lit(nc)
    mukey = (F.lit(100000) + ((r / F.lit(8)).cast("long") * F.lit(31)
             + (c / F.lit(8)).cast("long") * F.lit(17)) % F.lit(50)).alias("mukey")
    return base.select("grid_id", "lon", "lat", mukey).where(
        u_col(g, M[6], 3) >= F.lit(0.02))


def soil_grid_sql(nr: int, nc: int, spacing: float) -> str:
    u = u_sql("g", M[6], 3)
    return f"""
    SELECT g AS grid_id,
           {AOI['lon0']!r} + ((g % {nc}) + 0.5) * {spacing!r} AS lon,
           {AOI['lat0']!r} + ((g // {nc}) + 0.5) * {spacing!r} AS lat,
           100000 + (((g // {nc}) // 8) * 31 + ((g % {nc}) // 8) * 17) % 50 AS mukey
    FROM (SELECT CAST(range AS BIGINT) AS g FROM range({nr * nc}))
    WHERE {u} >= 0.02
    """


def elev_grid_df(spark: SparkSession, nr: int, nc: int, spacing: float) -> DataFrame:
    """DEM-as-table (elevation raster analog for slope/aspect map algebra):
    a tilted plane + saddle + hash jitter, all exact int/double mul-add in
    the SAME operation order as the SQL mirror (bit-identical)."""
    base = grid_df(spark, nr, nc, spacing)
    g = F.col("grid_id")
    r = (g / F.lit(nc)).cast("long").cast("double")
    c = (g % F.lit(nc)).cast("double")
    elev = (F.lit(200.0) + r * F.lit(1.7) - c * F.lit(0.9)
            + r * c * F.lit(0.013) + u_col(g, M[7], 53) * F.lit(4.0))
    return base.select("grid_id", "lon", "lat", elev.alias("elev"))


def elev_grid_sql(nr: int, nc: int, spacing: float) -> str:
    u = u_sql("g", M[7], 53)
    return f"""
    SELECT g AS grid_id,
           {AOI['lon0']!r} + ((g % {nc}) + 0.5) * {spacing!r} AS lon,
           {AOI['lat0']!r} + ((g // {nc}) + 0.5) * {spacing!r} AS lat,
           200.0 + CAST(g // {nc} AS DOUBLE) * 1.7 - CAST(g % {nc} AS DOUBLE) * 0.9
             + CAST(g // {nc} AS DOUBLE) * CAST(g % {nc} AS DOUBLE) * 0.013
             + {u} * 4.0 AS elev
    FROM (SELECT CAST(range AS BIGINT) AS g FROM range({nr * nc}))
    """


def tracks_df(spark: SparkSession, n_tracks: int, n_pts: int) -> DataFrame:
    """GPS-track analog (track_id, seq, lon, lat): per-track start + linear
    heading + quadratic curvature + per-point jitter, all exact mul/add in
    the same operation order as the SQL mirror."""
    t = F.col("t")
    trk = (t / F.lit(n_pts)).cast("long")
    s = (t % F.lit(n_pts)).cast("double")
    x0 = F.lit(AOI["lon0"]) + u_col(trk, M[0], 61) * F.lit(AOI["w"])
    y0 = F.lit(AOI["lat0"]) + u_col(trk, M[1], 67) * F.lit(AOI["h"])
    dx = (u_col(trk, M[2], 73) - F.lit(0.5)) * F.lit(0.004)
    dy = (u_col(trk, M[3], 79) - F.lit(0.5)) * F.lit(0.004)
    ex = (u_col(trk, M[4], 83) - F.lit(0.5)) * F.lit(0.00002)
    ey = (u_col(trk, M[5], 89) - F.lit(0.5)) * F.lit(0.00002)
    jx = (u_col(t, M[6], 97) - F.lit(0.5)) * F.lit(0.0002)
    jy = (u_col(t, M[7], 101) - F.lit(0.5)) * F.lit(0.0002)
    return spark.range(n_tracks * n_pts).withColumnRenamed("id", "t").select(
        trk.alias("track_id"),
        (t % F.lit(n_pts)).alias("seq"),
        (x0 + s * dx + s * s * ex + jx).alias("lon"),
        (y0 + s * dy + s * s * ey + jy).alias("lat"),
    )


def tracks_sql(n_tracks: int, n_pts: int) -> str:
    def ut(m, a):
        return u_sql(f"(t // {n_pts})", M[m], a)

    def up(m, a):
        return u_sql("t", M[m], a)

    return f"""
    SELECT t // {n_pts} AS track_id,
           t % {n_pts} AS seq,
           ({AOI['lon0']!r} + {ut(0, 61)} * {AOI['w']!r})
             + s * (({ut(2, 73)} - 0.5) * 0.004)
             + s * s * (({ut(4, 83)} - 0.5) * 0.00002)
             + ({up(6, 97)} - 0.5) * 0.0002 AS lon,
           ({AOI['lat0']!r} + {ut(1, 67)} * {AOI['h']!r})
             + s * (({ut(3, 79)} - 0.5) * 0.004)
             + s * s * (({ut(5, 89)} - 0.5) * 0.00002)
             + ({up(7, 101)} - 0.5) * 0.0002 AS lat
    FROM (SELECT CAST(range AS BIGINT) AS t,
                 CAST(CAST(range AS BIGINT) % {n_pts} AS DOUBLE) AS s
          FROM range({n_tracks * n_pts}))
    """


# ---------------------------------------------------------------------------
# daily weather series (DLY analog, `io/inputs.py:202-222`)
# ---------------------------------------------------------------------------

def weather_daily_df(spark: SparkSession, n_cells: int, n_days: int = 730,
                     start: str = "2019-01-01") -> DataFrame:
    t = F.col("t")
    g = (t / F.lit(n_days)).cast("long")
    d = t % F.lit(n_days)
    tmax = F.lit(-5.0) + u_col(t, M[0], 7) * F.lit(40.0)
    tmin = tmax - u_col(t, M[1], 19) * F.lit(18.0)
    prcp = F.when(u_col(t, M[2], 23) < 0.55, F.lit(0.0)).otherwise(
        u_col(t, M[3], 31) * F.lit(25.0))
    srad = F.lit(1.0) + u_col(t, M[4], 37) * F.lit(30.0)
    rh = F.lit(0.15) + u_col(t, M[5], 41) * F.lit(0.8)
    ws = F.when(u_col(t, M[6], 43) < 0.05, F.lit(None).cast("double")).otherwise(
        u_col(t, M[7], 47) * F.lit(12.0))
    return spark.range(n_cells * n_days).withColumnRenamed("id", "t").select(
        g.alias("cell_id"),
        F.date_add(F.lit(start).cast("date"), d.cast("int")).alias("date"),
        srad.alias("srad"), tmax.alias("tmax"), tmin.alias("tmin"),
        prcp.alias("prcp"), rh.alias("rh"), ws.alias("ws"),
    )


def weather_daily_sql(n_cells: int, n_days: int = 730, start: str = "2019-01-01") -> str:
    def u(m, a):
        return u_sql("t", M[m], a)
    return f"""
    SELECT t // {n_days} AS cell_id,
           DATE '{start}' + CAST(t % {n_days} AS INTEGER) AS date,
           1.0 + {u(4, 37)} * 30.0 AS srad,
           -5.0 + {u(0, 7)} * 40.0 AS tmax,
           (-5.0 + {u(0, 7)} * 40.0) - {u(1, 19)} * 18.0 AS tmin,
           CASE WHEN {u(2, 23)} < 0.55 THEN 0.0 ELSE {u(3, 31)} * 25.0 END AS prcp,
           0.15 + {u(5, 41)} * 0.8 AS rh,
           CASE WHEN {u(6, 43)} < 0.05 THEN NULL ELSE {u(7, 47)} * 12.0 END AS ws
    FROM (SELECT CAST(range AS BIGINT) AS t FROM range({n_cells * n_days}))
    """


# ---------------------------------------------------------------------------
# relational soil tables (SDA / gSSURGO analog, `soil/sda.py:147-163`)
# ---------------------------------------------------------------------------

def soil_components_df(spark: SparkSession, n_mukeys: int, per: int = 3) -> DataFrame:
    c = F.col("c")
    hyd = (F.when(c % 6 == 0, "A").when(c % 6 == 1, "B").when(c % 6 == 2, "C")
            .when(c % 6 == 3, "D").when(c % 6 == 4, "").otherwise("B"))
    return spark.range(n_mukeys * per).withColumnRenamed("id", "c").select(
        (F.lit(100000) + (c / F.lit(per)).cast("long")).alias("mukey"),
        (F.lit(500000) + c).alias("cokey"),
        F.format_string("comp%d", c % 5).alias("compname"),
        (F.lit(10.0) + u_col(c, M[0], 53) * F.lit(80.0)).alias("comppct_r"),
        hyd.alias("hydgrp"),
        (F.lit(0.1) + u_col(c, M[1], 59) * F.lit(0.3)).alias("albedodry_r"),
        (F.lit(10.0) + u_col(c, M[2], 61) * F.lit(90.0)).alias("slopelenusle_r"),
    )


def soil_components_sql(n_mukeys: int, per: int = 3) -> str:
    return f"""
    SELECT 100000 + c // {per} AS mukey,
           500000 + c AS cokey,
           printf('comp%d', c % 5) AS compname,
           10.0 + {u_sql('c', M[0], 53)} * 80.0 AS comppct_r,
           CASE c % 6 WHEN 0 THEN 'A' WHEN 1 THEN 'B' WHEN 2 THEN 'C'
                      WHEN 3 THEN 'D' WHEN 4 THEN '' ELSE 'B' END AS hydgrp,
           0.1 + {u_sql('c', M[1], 59)} * 0.3 AS albedodry_r,
           10.0 + {u_sql('c', M[2], 61)} * 90.0 AS slopelenusle_r
    FROM (SELECT CAST(range AS BIGINT) AS c FROM range({n_mukeys * per}))
    """


def soil_layers_df(spark: SparkSession, n_cokeys: int, per: int = 6) -> DataFrame:
    ll = F.col("l")
    depth = ((ll % per).cast("double") + F.lit(1.0)) * F.lit(15.0) + F.when(
        u_col(ll, M[3], 67) < 0.5, F.lit(0.03)).otherwise(F.lit(0.07))
    wthird = F.when(u_col(ll, M[4], 71) < 0.1, F.lit(0.0)).otherwise(
        F.lit(5.0) + u_col(ll, M[5], 73) * F.lit(30.0))
    return spark.range(n_cokeys * per).withColumnRenamed("id", "l").select(
        (F.lit(500000) + (ll / F.lit(per)).cast("long")).alias("cokey"),
        ((ll % per) + 1).cast("int").alias("desgnvert"),
        depth.alias("hzdepb_r"),
        wthird.alias("wthirdbar_r"),
        (F.lit(20.0) + u_col(ll, M[6], 79) * F.lit(60.0)).alias("sandtotal_r"),
        (F.lit(5.0) + u_col(ll, M[7], 83) * F.lit(40.0)).alias("silttotal_r"),
        (F.lit(4.5) + u_col(ll, M[0], 89) * F.lit(4.0)).alias("ph1to1h2o_r"),
        (F.lit(0.1) + u_col(ll, M[1], 97) * F.lit(5.0)).alias("om_r"),
        (F.lit(1.0) + u_col(ll, M[2], 103) * F.lit(0.8)).alias("dbthirdbar_r"),
        (u_col(ll, M[3], 107) * F.lit(100.0)).alias("ksat_r"),
    )


def soil_layers_sql(n_cokeys: int, per: int = 6) -> str:
    return f"""
    SELECT 500000 + l // {per} AS cokey,
           CAST((l % {per}) + 1 AS INTEGER) AS desgnvert,
           ((l % {per}) + 1.0) * 15.0 +
             CASE WHEN {u_sql('l', M[3], 67)} < 0.5 THEN 0.03 ELSE 0.07 END AS hzdepb_r,
           CASE WHEN {u_sql('l', M[4], 71)} < 0.1 THEN 0.0
                ELSE 5.0 + {u_sql('l', M[5], 73)} * 30.0 END AS wthirdbar_r,
           20.0 + {u_sql('l', M[6], 79)} * 60.0 AS sandtotal_r,
           5.0 + {u_sql('l', M[7], 83)} * 40.0 AS silttotal_r,
           4.5 + {u_sql('l', M[0], 89)} * 4.0 AS ph1to1h2o_r,
           0.1 + {u_sql('l', M[1], 97)} * 5.0 AS om_r,
           1.0 + {u_sql('l', M[2], 103)} * 0.8 AS dbthirdbar_r,
           {u_sql('l', M[3], 107)} * 100.0 AS ksat_r
    FROM (SELECT CAST(range AS BIGINT) AS l FROM range({n_cokeys * per}))
    """


# ---------------------------------------------------------------------------
# synthetic text corpus (the bench's bm25 fixture: arbitrary-size documents
# with planted near-duplicate neighbors, pure Column exprs)
# ---------------------------------------------------------------------------

def documents_synth_df(
    spark: SparkSession,
    n_docs: int,
    n_words: int = 50,
    vocab: int = 20000,
    dup_every: int = 10,
) -> DataFrame:
    """Deterministic corpus: doc d's j-th word is ``w<xxhash64(base,j) %
    vocab>`` where base=d, except every ``dup_every``-th doc (d % dup_every
    == 1) copies the previous doc's words with ONE position jittered — a
    planted near-duplicate (Jaccard ~= (n-1)/(n+1) on word shingles), so a
    minhash/LSH run over this corpus does representative candidate-join and
    verify work at any size. All JVM-side Column expressions; generation is
    never the bottleneck of what it feeds."""
    d = F.col("id")
    is_dup = (d % F.lit(dup_every) == 1) & (d > 0)
    base = F.when(is_dup, d - 1).otherwise(d)
    jitter_pos = F.pmod(d, F.lit(n_words))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda j: F.when(
            is_dup & (j == jitter_pos),
            F.concat(F.lit("x"), d.cast("string")),
        ).otherwise(
            F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(base, j), F.lit(vocab)).cast("string"),
            )
        ),
    )
    return spark.range(n_docs).select(
        d.alias("doc_id"), F.array_join(words, " ").alias("text")
    )


def phashes_synth_df(spark: SparkSession, n: int, dup_every: int = 16) -> DataFrame:
    """Deterministic 64-bit perceptual-hash table with planted near-dups:
    every ``dup_every``-th row (i % dup_every == 1) copies the PREVIOUS
    row's hash with <=2 bits flipped (positions i*7 % 63 and i*13 % 63), so
    a hamming <= 4 near-dup join over this table does representative
    banded-join + popcount-verify work at any size — the bench fixture for
    ``hamming_near_dup_pairs``. Originals are xxhash64(i): effectively
    uniform over 2^64, so un-planted pairs essentially never collide and
    the result size tracks the planted count (~n/dup_every). All Column
    arithmetic; generation never dominates what it feeds."""
    i = F.col("id")
    is_dup = (i % F.lit(dup_every) == 1) & (i > 0)
    base = F.when(is_dup, i - 1).otherwise(i)
    h = F.xxhash64(base)
    mask = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(pmod(id * 7, 63) AS INT))"
        " | shiftleft(CAST(1 AS BIGINT), CAST(pmod(id * 13, 63) AS INT))"
    )
    return spark.range(n).select(
        i.alias("img_id"),
        F.when(is_dup, h.bitwiseXOR(mask)).otherwise(h).alias("phash"),
    )


def embeddings_synth_df(spark: SparkSession, n: int, dim: int = 64) -> DataFrame:
    """Deterministic dense embeddings: component j of vector v is
    ``(xxhash64(v, j) mod 2001 - 1000) / 1000`` — uniform in [-1, 1],
    JVM-side Column arithmetic from ``spark.range`` (scales to the bench
    sizes without any driver-side data). The ANN bench fixture."""
    v = F.col("id")
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (F.pmod(F.xxhash64(v, j), F.lit(2001)) - F.lit(1000)).cast("double")
        / F.lit(1000.0),
    )
    return spark.range(n).select(v.alias("vec_id"), emb.alias("embedding"))
