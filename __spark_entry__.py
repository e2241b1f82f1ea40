"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship tile-assignment pipeline (image tiles ->
cell-indexed PIP join -> per-field counts). ``queries()`` registers one entry
per implemented operator from SURVEY.md §2; ``oracle_sql()`` carries the
DuckDB-equivalent SQL. Spatial/weather/soil queries run over dual-engine
synthetic fixtures (geo_epic_spark.synth emits bit-identical Spark plans and
DuckDB SQL from shared integer-hash arithmetic), relational/text/vector
queries run over the driver's parquet tables.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from geo_epic_spark import cells, synth
from geo_epic_spark.functions.select_dsl import select_str
from geo_epic_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_dup_pairs,
)
from geo_epic_spark.operators.relational import (
    depth_bucket_median,
    dominant_component,
    soil_projection,
)
from geo_epic_spark.operators.similarity import cosine_topk
from geo_epic_spark.operators.spatial import (
    nearest_grid_join,
    pip_join,
    rasterize,
    zonal_stats,
)
from geo_epic_spark.functions.validators import dly_violations
from geo_epic_spark.operators.phenology import (
    count_seasons,
    fit_double_logistic,
    fit_harmonic,
    smooth_series,
)
from geo_epic_spark.operators.text import (
    lang_id,
    quality_score,
    subword_count,
    token_count,
)
from geo_epic_spark.operators.timeseries import (
    heat_units,
    interpolate_daily,
    missing_dates,
    monthly_normals,
)

# fixture scales for the oracle-checked queries (kept modest: the driver runs
# every query AND its DuckDB oracle at sf=0.01)
N_IMG = 5000
N_POLY = 300
GRID_NR, GRID_NC, GRID_SP = 25, 40, 0.125
ZONAL_NR, ZONAL_NC, ZONAL_SP = 160, 270, 0.01802
RAST_RES = cells.RES_1KM
W_CELLS, W_DAYS = 3, 730
N_MUKEY = 200

_SEASONS = [
    (1, 0, "2019-04-15", "2019-10-01", 10.0),
    (2, 1, "2019-05-01", "2019-09-15", 8.0),
    (3, 2, "2020-04-20", "2020-10-10", 12.0),
    (4, 0, "2020-05-05", "2020-09-20", 6.0),
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _r6(df: DataFrame, cols: list[str]) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: image tiles -> cell-indexed PIP assignment -> per-field
    counts, with captions sourced from the sf0.001 documents table (checks
    caption pass-through alongside the spatial path)."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents").select(
        F.col("doc_id"), F.col("text").alias("caption_src")
    )
    # doc count folded into the plan as a broadcast 1-row aggregate (a
    # scalar-subquery shape) instead of an eager .count() action — the
    # flagship stays a single job (r4 advisory nit).
    n_docs = F.broadcast(docs.agg(F.count(F.lit(1)).alias("__n_docs")))
    imgs = (
        synth.images_meta_df(spark, 2000)
        .crossJoin(n_docs)
        .withColumn("doc_id", F.col("i") % F.col("__n_docs"))
        .drop("__n_docs")
        .join(F.broadcast(docs), "doc_id")
    )
    flds = synth.fields_df(spark, 150)
    assigned = pip_join(
        imgs.select("i", "cx", "cy", "caption_src"),
        flds.select("poly_id", "xs", "ys"),
        res=0.05,
        lon="cx",
        lat="cy",
    )
    return assigned.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.countDistinct("caption_src").alias("n_captions"),
    )


# ---------------------------------------------------------------------------
# spatial queries (dual-engine synth fixtures)
# ---------------------------------------------------------------------------

def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship tile-assignment join (J5 + A8): which field polygon contains
    each image tile center, counted per polygon."""
    imgs = synth.images_meta_df(spark, N_IMG).select("i", "cx", "cy")
    flds = synth.fields_df(spark, N_POLY).select("poly_id", "xs", "ys")
    return (
        pip_join(imgs, flds, res=0.05, lon="cx", lat="cy")
        .groupBy("poly_id")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )


def _sql_tile_assign() -> str:
    return f"""
    WITH imgs AS ({synth.images_meta_sql(N_IMG)}),
         polys AS ({synth.fields_sql(N_POLY)})
    SELECT p.poly_id AS poly_id, COUNT(*) AS n_images
    FROM imgs i JOIN polys p
      ON i.cx BETWEEN p.x0 AND p.x1 AND i.cy BETWEEN p.y0 AND p.y1
    GROUP BY 1
    """


def q_nearest_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN assignment join (J1/J2): BallTree find_nearest replacement
    (`utils/raster_utils.py:16-30`) via k-ring cell expansion."""
    pts = synth.images_meta_df(spark, 2000).select("i", "cx", "cy")
    grid = synth.grid_df(spark, GRID_NR, GRID_NC, GRID_SP)
    out = nearest_grid_join(
        pts, grid, res=GRID_SP, point_id="i", point_lon="cx", point_lat="cy"
    )
    return out.select("i", "grid_id", "nn_dist")


def _sql_nearest_grid() -> str:
    return f"""
    WITH pts AS ({synth.images_meta_sql(2000)}),
         grid AS ({synth.grid_sql(GRID_NR, GRID_NC, GRID_SP)}),
         d AS (
           SELECT p.i, g.grid_id,
                  (p.cx - g.lon) * (p.cx - g.lon) + (p.cy - g.lat) * (p.cy - g.lat) AS nn_dist,
                  row_number() OVER (
                    PARTITION BY p.i
                    ORDER BY (p.cx - g.lon) * (p.cx - g.lon) + (p.cy - g.lat) * (p.cy - g.lat),
                             g.grid_id
                  ) AS rn
           FROM pts p CROSS JOIN grid g
         )
    SELECT i, grid_id, nn_dist FROM d WHERE rn = 1
    """


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics join (J3): per-polygon mean/median/count over the
    mukey raster-as-table (`utils/raster_utils.py:53-108`)."""
    raster = synth.soil_grid_df(spark, ZONAL_NR, ZONAL_NC, ZONAL_SP)
    flds = synth.fields_df(spark, N_POLY).select("poly_id", "xs", "ys")
    out = zonal_stats(raster, flds, value="mukey", res=0.05, stats=("mean", "median", "count"))
    return _r6(out, ["mukey_mean", "mukey_median"])


def _sql_zonal_stats() -> str:
    return f"""
    WITH raster AS ({synth.soil_grid_sql(ZONAL_NR, ZONAL_NC, ZONAL_SP)}),
         polys AS ({synth.fields_sql(N_POLY)})
    SELECT p.poly_id AS poly_id,
           round(avg(CAST(r.mukey AS DOUBLE)), 6) AS mukey_mean,
           round(median(CAST(r.mukey AS DOUBLE)), 6) AS mukey_median,
           COUNT(r.mukey) AS n_cells
    FROM raster r JOIN polys p
      ON r.lon BETWEEN p.x0 AND p.x1 AND r.lat BETWEEN p.y0 AND p.y1
    GROUP BY 1
    """


def q_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector -> raster burn (S10 analog): polygons onto the 1-km lattice,
    min-zone per cell (`weather/download_daily.py:74-79`)."""
    flds = synth.fields_df(spark, 60)
    return rasterize(flds, res=RAST_RES).select("cell_id", "zone")


def _sql_rasterize() -> str:
    res = RAST_RES
    return f"""
    WITH polys AS ({synth.fields_sql(60)}),
         cand AS (
           SELECT p.poly_id, p.x0, p.x1, p.y0, p.y1, t1.r, t2.c,
                  (t2.c + 0.5) * {res!r} - 180.0 AS lon,
                  (t1.r + 0.5) * {res!r} - 90.0 AS lat
           FROM polys p,
                LATERAL (SELECT unnest(generate_series(
                    CAST(floor((p.y0 + 90.0) / {res!r}) AS BIGINT),
                    CAST(floor((p.y1 + 90.0) / {res!r}) AS BIGINT))) AS r) t1,
                LATERAL (SELECT unnest(generate_series(
                    CAST(floor((p.x0 + 180.0) / {res!r}) AS BIGINT),
                    CAST(floor((p.x1 + 180.0) / {res!r}) AS BIGINT))) AS c) t2
         )
    SELECT r * 4294967296 + c AS cell_id, MIN(poly_id) AS zone
    FROM cand
    WHERE lon BETWEEN x0 AND x1 AND lat BETWEEN y0 AND y1
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# weather time-series queries
# ---------------------------------------------------------------------------

def q_monthly_normals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly climate normals (A1 + W1/W2): `DLY.to_monthly`
    (`io/inputs.py:293-332`) with the 3.5 default-windspeed fill
    (`weather/main.py:34`)."""
    daily = synth.weather_daily_df(spark, W_CELLS, W_DAYS).na.fill({"ws": 3.5})
    out = monthly_normals(daily, by=["cell_id"])
    num = [c for c in out.columns if c not in ("cell_id", "month")]
    return _r6(out, num)


def _sql_monthly_normals() -> str:
    dim = "[31,28,31,30,31,30,31,31,30,31,30,31]"
    return f"""
    WITH daily AS ({synth.weather_daily_sql(W_CELLS, W_DAYS)}),
         base AS (
           SELECT cell_id, date, srad, tmax, tmin, prcp, rh, COALESCE(ws, 3.5) AS ws,
                  CAST(month(date) AS INTEGER) AS month,
                  CASE WHEN prcp > 0.5 THEN 1 ELSE 0 END AS wet
           FROM daily
         ),
         lagd AS (
           SELECT *, LAG(wet) OVER (PARTITION BY cell_id, month ORDER BY date) AS wet_prev
           FROM base
         ),
         agg AS (
           SELECT cell_id, month,
                  avg(tmax) AS OBMX, avg(tmin) AS OBMN, avg(srad) AS OBSL,
                  avg(rh) AS RH, avg(ws) AS UAVO,
                  avg(prcp) AS prcp_mean,
                  stddev_samp(tmax) AS SDTMX, stddev_samp(tmin) AS SDTMN,
                  stddev_samp(prcp) AS RST2,
                  sum(wet) * 1.0 / count(*) AS DAYP,
                  sum(CASE WHEN wet_prev = 1 AND wet = 0 THEN 1 ELSE 0 END) * 1.0 / count(*) AS PRW1,
                  sum(CASE WHEN wet_prev = 1 AND wet = 1 THEN 1 ELSE 0 END) * 1.0 / count(*) AS PRW2
           FROM lagd GROUP BY 1, 2
         ),
         rmo AS (
           SELECT *, prcp_mean * CAST({dim}[month] AS DOUBLE) AS RMO FROM agg
         )
    SELECT cell_id, month,
           round(OBMX, 6) AS OBMX, round(OBMN, 6) AS OBMN,
           round(SDTMX, 6) AS SDTMX, round(SDTMN, 6) AS SDTMN,
           round(RMO, 6) AS RMO, round(RST2, 6) AS RST2,
           round(3.0 * abs(RMO - median(RMO) OVER (PARTITION BY cell_id)) / RST2, 6) AS RST3,
           round(PRW1, 6) AS PRW1, round(PRW2, 6) AS PRW2, round(DAYP, 6) AS DAYP,
           round(0.0, 6) AS WI,
           round(OBSL, 6) AS OBSL, round(RH, 6) AS RH, round(UAVO, 6) AS UAVO
    FROM rmo
    """


# --- composed §3.2 weather-download lifecycle (r5 VERDICT item 1) ----------
# lattice covering the AOI at 0.1° (the 0.00901° reference res scaled to keep
# the DuckDB mirror's exact-nearest cross join small), three county-scale AOI
# rectangles, 300 run_info sites, 16 shared NLDAS-style wind/climate series.
WP_NR, WP_NC, WP_SP = 30, 50, 0.1
WP_WCELLS, WP_WDAYS = 16, 365
_WP_AOI = [
    (0, -99.5, 40.3, -98.2, 41.4),
    (1, -97.9, 40.1, -96.4, 42.0),   # contains the HOT site cluster
    (2, -96.2, 41.5, -95.3, 42.8),
]


def _wp_aoi_df(spark: SparkSession) -> DataFrame:
    df = spark.createDataFrame(
        _WP_AOI, "poly_id long, x0 double, y0 double, x1 double, y1 double"
    )
    return df.select(
        "poly_id", "x0", "y0", "x1", "y1",
        F.array("x0", "x1", "x1", "x0").alias("xs"),
        F.array("y0", "y0", "y1", "y1").alias("ys"),
    )


def _wp_aoi_sql() -> str:
    rows = ", ".join(f"({p}, {x0!r}, {y0!r}, {x1!r}, {y1!r})"
                     for p, x0, y0, x1, y1 in _WP_AOI)
    return f"SELECT * FROM (VALUES {rows}) AS t(poly_id, x0, y0, x1, y1)"


def q_weather_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed §3.2 weather-download lifecycle — the reference's actual
    flagship workflow (`weather/download_daily.py`) chained end-to-end in ONE
    oracled query, each stage an operator already proven alone:

    1. climate-lattice build (`download_daily.py:62-70`): synth.grid_df;
    2. AOI geometry mask (`:74-79`, rasterio.features.geometry_mask): keep
       lattice cells whose center falls inside an AOI polygon — pip_join of
       cells against the AOI rectangles + distinct;
    3. site→cell assignment (`:128-143`, GeoInterface.lookup): exact nearest
       MASKED cell per run_info site via nearest_grid_join (k-ring expansion
       with brute fallback for sites outside the mask's ring horizon);
    4. per-cell daily weather join with the 3.5 default wind-speed fill
       (`weather/main.py:18-37`): each assigned cell keys one of the 16
       NLDAS-style series (grid_id % 16 — the nldas_id lookup analog);
    5. monthly INP normals per climate cell (`io/inputs.py:293-332`);
    6. skip-existing resume (`download_daily.py:99-104` file-exists check):
       run_with_resume over 8 cell buckets with buckets 0-1 pre-seeded in the
       manifest — only pending buckets are computed and written.

    Returns the normals actually WRITTEN by the resumed run (read back from
    the partitioned sink), so the row set proves the mask, the assignment,
    the ws fill, the normals math, and the resume filter simultaneously."""
    import shutil

    from geo_epic_spark.operators.resume import MANIFEST_SCHEMA, run_with_resume

    grid = synth.grid_df(spark, WP_NR, WP_NC, WP_SP)
    aoi = _wp_aoi_df(spark)
    # cached: the nearest-join's ring-escalation rounds and brute fallback
    # each probe the masked lattice — without the persist every round
    # re-runs the PIP mask (measured 3x the query time at sf0.01)
    masked = (
        pip_join(grid, aoi, res=0.5, lon="lon", lat="lat")
        .select("grid_id", "lon", "lat")
        .distinct()
        .persist()
    )
    sites = synth.images_meta_df(spark, 300).select("i", "cx", "cy")
    # res=0.4 > lattice spacing: sites OUTSIDE the mask (inter-polygon gaps,
    # up to ~0.7 deg from the nearest masked cell) resolve by ring 2 instead
    # of escalating through 8 rounds of 0.1-deg rings
    assigned = nearest_grid_join(
        sites, masked, res=0.4, max_ring=4,
        point_id="i", point_lon="cx", point_lat="cy",
    )
    # localCheckpoint truncates the assignment lineage: the resume stage
    # below runs several actions (pending anti-join count, the sink write,
    # the manifest aggregate) and each would otherwise re-run the whole
    # mask+assign chain. `used` is bounded by the masked-cell count (~500
    # rows here; one row per climate cell at any scale — the same bound as
    # the reference's Daily/*.DLY file listing).
    used = (
        assigned.select("grid_id").distinct()
        .withColumn("wcell", F.pmod(F.col("grid_id"), F.lit(WP_WCELLS)))
        .localCheckpoint(eager=True)
    )
    masked.unpersist()
    daily = synth.weather_daily_df(spark, WP_WCELLS, WP_WDAYS).na.fill({"ws": 3.5})
    work = (
        used.join(daily, used.wcell == daily.cell_id)
        .drop("cell_id", "wcell")
        .withColumn("part", F.pmod(F.col("grid_id"), F.lit(8)))
    )
    mpath = _scratch("weather_pipeline/manifest")
    opath = _scratch("weather_pipeline/out")
    shutil.rmtree(mpath, ignore_errors=True)
    shutil.rmtree(opath, ignore_errors=True)
    spark.createDataFrame(
        [(str(p), 0, 0, 0, "seed") for p in (0, 1)], MANIFEST_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(mpath)
    run_with_resume(
        spark, work, "part",
        lambda df: monthly_normals(df, by=["part", "grid_id"]),
        opath, mpath, run_id="r5wp",
    )
    out = spark.read.parquet(opath).drop("part")
    num = [c for c in out.columns if c not in ("grid_id", "month")]
    return _r6(out, num)


def _sql_weather_pipeline() -> str:
    dim = "[31,28,31,30,31,30,31,31,30,31,30,31]"
    return f"""
    WITH grid AS ({synth.grid_sql(WP_NR, WP_NC, WP_SP)}),
         aoi AS ({_wp_aoi_sql()}),
         masked AS (
           SELECT g.grid_id, g.lon, g.lat FROM grid g
           WHERE EXISTS (SELECT 1 FROM aoi p
                         WHERE g.lon BETWEEN p.x0 AND p.x1
                           AND g.lat BETWEEN p.y0 AND p.y1)
         ),
         sites AS ({synth.images_meta_sql(300)}),
         assigned AS (
           SELECT i, grid_id FROM (
             SELECT s.i, m.grid_id,
                    row_number() OVER (PARTITION BY s.i ORDER BY
                      (s.cx - m.lon) * (s.cx - m.lon)
                      + (s.cy - m.lat) * (s.cy - m.lat), m.grid_id) AS rn
             FROM sites s CROSS JOIN masked m) WHERE rn = 1
         ),
         used AS (
           SELECT DISTINCT grid_id, grid_id % {WP_WCELLS} AS wcell
           FROM assigned WHERE grid_id % 8 >= 2
         ),
         daily AS ({synth.weather_daily_sql(WP_WCELLS, WP_WDAYS)}),
         base AS (
           SELECT u.grid_id, d.date, d.srad, d.tmax, d.tmin, d.prcp, d.rh,
                  COALESCE(d.ws, 3.5) AS ws,
                  CAST(month(d.date) AS INTEGER) AS month,
                  CASE WHEN d.prcp > 0.5 THEN 1 ELSE 0 END AS wet
           FROM used u JOIN daily d ON d.cell_id = u.wcell
         ),
         lagd AS (
           SELECT *, LAG(wet) OVER (PARTITION BY grid_id, month ORDER BY date)
                       AS wet_prev
           FROM base
         ),
         agg AS (
           SELECT grid_id, month,
                  avg(tmax) AS OBMX, avg(tmin) AS OBMN, avg(srad) AS OBSL,
                  avg(rh) AS RH, avg(ws) AS UAVO,
                  avg(prcp) AS prcp_mean,
                  stddev_samp(tmax) AS SDTMX, stddev_samp(tmin) AS SDTMN,
                  stddev_samp(prcp) AS RST2,
                  sum(wet) * 1.0 / count(*) AS DAYP,
                  sum(CASE WHEN wet_prev = 1 AND wet = 0 THEN 1 ELSE 0 END) * 1.0 / count(*) AS PRW1,
                  sum(CASE WHEN wet_prev = 1 AND wet = 1 THEN 1 ELSE 0 END) * 1.0 / count(*) AS PRW2
           FROM lagd GROUP BY 1, 2
         ),
         rmo AS (
           SELECT *, prcp_mean * CAST({dim}[month] AS DOUBLE) AS RMO FROM agg
         )
    SELECT grid_id, month,
           round(OBMX, 6) AS OBMX, round(OBMN, 6) AS OBMN,
           round(SDTMX, 6) AS SDTMX, round(SDTMN, 6) AS SDTMN,
           round(RMO, 6) AS RMO, round(RST2, 6) AS RST2,
           round(3.0 * abs(RMO - median(RMO) OVER (PARTITION BY grid_id)) / RST2, 6) AS RST3,
           round(PRW1, 6) AS PRW1, round(PRW2, 6) AS PRW2, round(DAYP, 6) AS DAYP,
           round(0.0, 6) AS WI,
           round(OBSL, 6) AS OBSL, round(RH, 6) AS RH, round(UAVO, 6) AS UAVO
    FROM rmo
    """


def _seasons_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        _SEASONS,
        "season_id long, cell_id long, plantation_date string, harvest_date string, tbs double",
    ).select(
        "season_id",
        "cell_id",
        F.col("plantation_date").cast("date").alias("plantation_date"),
        F.col("harvest_date").cast("date").alias("harvest_date"),
        "tbs",
    )


def q_heat_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHU heat-unit accumulation (J9): `OPC.update_phu`
    (`io/opc.py:222-250`) as a non-equi range join."""
    daily = synth.weather_daily_df(spark, W_CELLS, W_DAYS)
    out = heat_units(daily, _seasons_df(spark), by=["cell_id"])
    return _r6(out.select("season_id", "phu"), ["phu"])


def _sql_heat_units() -> str:
    vals = ", ".join(
        f"({sid}, {cid}, DATE '{p}', DATE '{h}', CAST({t} AS DOUBLE))"
        for sid, cid, p, h, t in _SEASONS
    )
    return f"""
    WITH daily AS ({synth.weather_daily_sql(W_CELLS, W_DAYS)}),
         seasons(season_id, cell_id, plantation_date, harvest_date, tbs)
           AS (VALUES {vals})
    SELECT s.season_id AS season_id,
           round(sum(greatest(0.0, (d.tmax + d.tmin) * 0.5 - s.tbs)), 6) AS phu
    FROM daily d JOIN seasons s
      ON d.cell_id = s.cell_id
     AND d.date > s.plantation_date AND d.date < s.harvest_date
    GROUP BY 1
    """


_OPS_N = 400


def q_pair_seasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of season pairing (J10 agricultural form): each plantation row
    pairs with the FIRST harvest of the same crop strictly after it
    (`io/opc.py:276-290`)."""
    from geo_epic_spark.operators.timeseries import pair_seasons

    t = F.col("id")
    ops = spark.range(_OPS_N).select(
        (t / 20).cast("long").alias("sched"),
        (F.lit(5) + t % 3).alias("crop"),
        F.when(t % 2 == 0, "plant").otherwise("harvest").alias("code"),
        F.date_add(F.lit("2019-01-01").cast("date"),
                   (synth.u_col(t, synth.M[0], 53) * 700).cast("int")).alias("date"),
    )
    out = pair_seasons(ops, by=["sched"])
    return out.select(
        "sched", "crop",
        F.date_format("plantation_date", "yyyy-MM-dd").alias("plantation_date"),
        F.date_format("harvest_date", "yyyy-MM-dd").alias("harvest_date"),
    )


def _sql_pair_seasons() -> str:
    u = synth.u_sql("id", synth.M[0], 53)
    return f"""
    WITH ops AS (
      SELECT id // 20 AS sched,
             5 + id % 3 AS crop,
             CASE WHEN id % 2 = 0 THEN 'plant' ELSE 'harvest' END AS code,
             DATE '2019-01-01' + CAST(floor({u} * 700) AS INTEGER) AS date
      FROM (SELECT CAST(range AS BIGINT) AS id FROM range({_OPS_N}))
    ),
    p AS (SELECT sched, crop, date AS pd FROM ops WHERE code = 'plant'),
    h AS (SELECT sched, crop, date AS hd FROM ops WHERE code = 'harvest'),
    j AS (
      SELECT p.sched, p.crop, p.pd, h.hd,
             row_number() OVER (PARTITION BY p.sched, p.crop, p.pd
                                ORDER BY h.hd) AS rn
      FROM p JOIN h ON p.sched = h.sched AND p.crop = h.crop AND h.hd > p.pd
    )
    SELECT sched, crop,
           strftime(pd, '%Y-%m-%d') AS plantation_date,
           strftime(hd, '%Y-%m-%d') AS harvest_date
    FROM j WHERE rn = 1
    """


def q_missing_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-coverage validation anti-join (J8): `DLY.validate`
    (`io/inputs.py:230-256`) missing-day detection."""
    daily = synth.weather_daily_df(spark, 3, 365).filter(
        synth.u_col(F.unix_date("date") + F.col("cell_id") * 1000, synth.M[0], 11) >= 0.03
    )
    out = missing_dates(daily, ["cell_id"])
    return out.select("cell_id", F.date_format("date", "yyyy-MM-dd").alias("miss_date"))


def _sql_missing_dates() -> str:
    u = synth.u_sql("(date_diff('day', DATE '1970-01-01', date) + cell_id * 1000)", synth.M[0], 11)
    return f"""
    WITH daily AS ({synth.weather_daily_sql(3, 365)}),
         kept AS (SELECT cell_id, date FROM daily WHERE {u} >= 0.03),
         spans AS (SELECT cell_id, min(date) AS d0, max(date) AS d1 FROM kept GROUP BY 1),
         spine AS (
           SELECT s.cell_id, CAST(t.d AS DATE) AS date
           FROM spans s, LATERAL (SELECT unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS d) t
         )
    SELECT sp.cell_id AS cell_id, strftime(sp.date, '%Y-%m-%d') AS miss_date
    FROM spine sp LEFT JOIN kept k ON sp.cell_id = k.cell_id AND sp.date = k.date
    WHERE k.date IS NULL
    """


def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily reindex + linear interpolation (W4): `utils/profile.py:30-76`
    as date-spine explode + window blend."""
    daily = synth.weather_daily_df(spark, 2, 90).filter(
        synth.u_col(F.unix_date("date") + F.col("cell_id") * 1000, synth.M[1], 13) >= 0.25
    ).select("cell_id", "date", "tmax")
    out = interpolate_daily(daily, "tmax", ["cell_id"])
    return out.select(
        "cell_id", F.date_format("date", "yyyy-MM-dd").alias("day"),
        F.round("tmax_interp", 9).alias("tmax_interp"),
    )


def _sql_interpolate() -> str:
    u = synth.u_sql("(date_diff('day', DATE '1970-01-01', date) + cell_id * 1000)", synth.M[1], 13)
    return f"""
    WITH daily AS ({synth.weather_daily_sql(2, 90)}),
         kept AS (SELECT cell_id, date, tmax FROM daily WHERE {u} >= 0.25),
         spans AS (SELECT cell_id, min(date) AS d0, max(date) AS d1 FROM kept GROUP BY 1),
         spine AS (
           SELECT s.cell_id, CAST(t.d AS DATE) AS date
           FROM spans s, LATERAL (SELECT unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS d) t
         ),
         filled AS (
           SELECT sp.cell_id, sp.date, k.tmax FROM spine sp
           LEFT JOIN kept k ON sp.cell_id = k.cell_id AND sp.date = k.date
         ),
         w AS (
           SELECT cell_id, date, tmax,
             last_value(tmax IGNORE NULLS) OVER
               (PARTITION BY cell_id ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN tmax IS NOT NULL THEN date END IGNORE NULLS) OVER
               (PARTITION BY cell_id ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             first_value(tmax IGNORE NULLS) OVER
               (PARTITION BY cell_id ORDER BY date ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN tmax IS NOT NULL THEN date END IGNORE NULLS) OVER
               (PARTITION BY cell_id ORDER BY date ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
           FROM filled
         )
    SELECT cell_id, strftime(date, '%Y-%m-%d') AS day,
           round(CASE
             WHEN tmax IS NOT NULL THEN tmax
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * (CAST(date_diff('day', pd, date) AS DOUBLE)
                                    / CAST(date_diff('day', pd, nd) AS DOUBLE))
           END, 9) AS tmax_interp
    FROM w
    """


# ---------------------------------------------------------------------------
# relational soil queries
# ---------------------------------------------------------------------------

def q_dominant_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-component argmax (A2): `soil/ssurgo_gdb.py:57`."""
    comps = synth.soil_components_df(spark, N_MUKEY)
    return dominant_component(comps).select("mukey", "cokey", "compname", "comppct_r")


def _sql_dominant_component() -> str:
    return f"""
    WITH comps AS ({synth.soil_components_sql(N_MUKEY)}),
         r AS (SELECT *, row_number() OVER (PARTITION BY mukey ORDER BY comppct_r DESC, cokey) AS rn
               FROM comps)
    SELECT mukey, cokey, compname, comppct_r FROM r WHERE rn = 1
    """


def q_depth_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-bucket grouped median (A3): `soil/sda.py:195-199`."""
    comps = synth.soil_components_df(spark, N_MUKEY).select("cokey", "mukey")
    layers = synth.soil_layers_df(spark, N_MUKEY * 3).filter("wthirdbar_r > 0")
    out = depth_bucket_median(layers.join(comps, "cokey"), ["om_r", "ksat_r"])
    return _r6(out, ["om_r_med", "ksat_r_med"])


def _sql_depth_median() -> str:
    return f"""
    WITH comps AS ({synth.soil_components_sql(N_MUKEY)}),
         layers AS ({synth.soil_layers_sql(N_MUKEY * 3)})
    SELECT c.mukey AS mukey, round(l.hzdepb_r, 1) AS depth_bucket,
           round(median(l.om_r), 6) AS om_r_med,
           round(median(l.ksat_r), 6) AS ksat_r_med
    FROM layers l JOIN comps c ON l.cokey = c.cokey
    WHERE l.wthirdbar_r > 0
    GROUP BY 1, 2
    """


def q_soil_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-scaling projection (P1): `soil/sda.py:171-192` canonical soil
    schema with hydgrp letter -> code map."""
    comps = synth.soil_components_df(spark, N_MUKEY)
    layers = synth.soil_layers_df(spark, N_MUKEY * 3)
    j = layers.join(comps.select("cokey", "mukey", "hydgrp", "albedodry_r"), "cokey")
    return soil_projection(j).select(
        "mukey", "cokey", "depth_m", "om_pct", "ksat_mm_hr", "albedo_wet",
        "claytotal_r", "hydgrp_code",
    )


def _sql_soil_projection() -> str:
    return f"""
    WITH comps AS ({synth.soil_components_sql(N_MUKEY)}),
         layers AS ({synth.soil_layers_sql(N_MUKEY * 3)})
    SELECT c.mukey AS mukey, l.cokey AS cokey,
           l.hzdepb_r * 0.01 AS depth_m,
           l.om_r * 0.58 AS om_pct,
           l.ksat_r * 3.6 AS ksat_mm_hr,
           c.albedodry_r * 0.625 AS albedo_wet,
           100.0 - l.sandtotal_r - l.silttotal_r AS claytotal_r,
           CASE c.hydgrp WHEN 'A' THEN 1 WHEN 'B' THEN 2 WHEN 'C' THEN 3
                         WHEN 'D' THEN 4 ELSE 3 END AS hydgrp_code
    FROM layers l JOIN comps c ON l.cokey = c.cokey
    """


def q_select_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection mini-DSL (P5): `utils/misc.py:44-93` — predicate then
    fractional Range slice over the ordered frame."""
    flds = synth.fields_df(spark, 1000).select("SiteID", "CNTYFIPS")
    return select_str(flds, "CNTYFIPS == '19003'; Range(0.0, 0.05)", order_by="SiteID")


def _sql_select_range() -> str:
    # Range bounds use the UNFILTERED length (reference quirk, misc.py:64):
    # ceil(0.05 * 1000) = 50 positions of the filtered, SiteID-ordered frame.
    return f"""
    WITH flds AS ({synth.fields_sql(1000)}),
         f AS (SELECT SiteID, CNTYFIPS, row_number() OVER (ORDER BY SiteID) AS rn
               FROM flds WHERE CNTYFIPS = '19003')
    SELECT SiteID, CNTYFIPS FROM f WHERE rn <= 50
    """


# ---------------------------------------------------------------------------
# driver-table relational queries (J4/J8/J10, A4, W3, set ops)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped multi-aggregate (A1 relational analog, TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    # money sums reach 1e9 at sf0.1; double summation-order drift is ~1e-5,
    # so sums compare at 2 decimals (averages stay at 6)
    out = _r6(out, ["avg_qty", "avg_disc"])
    for c in ("sum_qty", "sum_base_price", "sum_disc_price"):
        out = out.withColumn(c, F.round(F.col(c), 2))
    return out


def _sql_pricing_summary() -> str:
    return """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem GROUP BY 1, 2
    """


def q_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise argmax (A2 relational): highest-value order per customer."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


def _sql_top_order_per_customer() -> str:
    return """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn = 1
    """


def q_next_order_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of pairing (J10): each order with its customer's next order date
    (`io/opc.py:276-290` plantation -> first later harvest shape)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd").alias("next_order_day"),
    )


def _sql_next_order_asof() -> str:
    return """
    SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_day,
           strftime(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey),
                    '%Y-%m-%d') AS next_order_day
    FROM orders
    """


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (J8/P3): the resume/missing-detection primitive."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def _sql_customers_without_orders() -> str:
    return """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """


def q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union + last-wins dedup (set ops): select-DSL '+' semantics
    (`utils/misc.py:88-90`) over the customer table."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    return select_str(
        c, "c_mktsegment == 'BUILDING' + c_acctbal > 5000",
        order_by="c_custkey", dedup_key="c_custkey",
    )


def _sql_union_dedup() -> str:
    # both branches emit the same physical row per key, so last-wins dedup
    # reduces to set-union of the predicates
    return """
    SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
    WHERE c_mktsegment = 'BUILDING' OR c_acctbal > 5000
    """


def q_percentile_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile envelope (A4): per-month 10th/90th pct + mean of event
    values (`utils/profile.py:203-226`)."""
    e = _t(spark, sf_dir, "events")
    out = e.groupBy(F.month("ts").alias("month")).agg(
        F.percentile("value", 0.1).alias("p10"),
        F.percentile("value", 0.9).alias("p90"),
        F.avg("value").alias("mean_v"),
        F.count(F.lit(1)).alias("n"),
    )
    return _r6(out, ["p10", "p90", "mean_v"])


def _sql_percentile_envelope() -> str:
    return """
    SELECT CAST(month(ts) AS INTEGER) AS month,
           round(quantile_cont(value, 0.1), 6) AS p10,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(avg(value), 6) AS mean_v,
           count(*) AS n
    FROM events GROUP BY 1
    """


def q_rolling_median_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered rolling median (W3): `utils/profile.py:40-51` as a
    rows-between window over per-user event series."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 2)
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    med = (
        F.element_at(arr, ((n + 1) / 2).cast("int"))
        + F.element_at(arr, (n / 2 + 1).cast("int"))
    ) / 2.0
    return e.select("event_id", F.round(med, 6).alias("rmed"))


def _sql_rolling_median_events() -> str:
    return """
    SELECT event_id,
           round(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS rmed
    FROM events
    """


# ---------------------------------------------------------------------------
# documents / embeddings: dedup, text analysis, similarity search
# ---------------------------------------------------------------------------

def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy): keep lowest doc_id per distinct text."""
    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d).select("doc_id")


def _sql_exact_dedup_docs() -> str:
    return "SELECT min(doc_id) AS doc_id FROM documents GROUP BY text"


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs, exact (shingle equi-join plan)."""
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, threshold=0.125, n=3).select(
        "id_a", "id_b", F.round("jaccard", 9).alias("jaccard")
    )


def _sql_ngram_jaccard() -> str:
    return """
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct([
        array_to_string(words[i:i+2], ' ')
        FOR i IN range(1, greatest(len(words) - 2, 1) + 1)
      ])) AS shingle
      FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM documents)
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT s.id_a, s.id_b,
           round(s.inter * 1.0 / (sa.sz + sb.sz - s.inter), 9) AS jaccard
    FROM shared s
    JOIN sizes sa ON s.id_a = sa.doc_id
    JOIN sizes sb ON s.id_b = sb.doc_id
    WHERE s.inter * 1.0 / (sa.sz + sb.sz - s.inter) >= 0.125
    """


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token count, BPE-ish subword estimate, quality score."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        subword_count(t).alias("n_subwords"),
        F.round(quality_score(t), 6).alias("quality"),
    )


def _sql_token_stats() -> str:
    return """
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
           CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'),
                w -> CAST(ceil(length(w) / 4.0) AS INTEGER))) AS INTEGER) AS n_subwords,
           round((
             CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1.0
                  WHEN length(text) < 50 THEN length(text) / 50.0
                  ELSE greatest(0.0, 1.0 - (length(text) - 5000) / 5000.0) END
             + length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0
               / greatest(length(text), 1)
             + CASE WHEN length(text) * 1.0 / greatest(len(string_split_regex(trim(text), '\\s+')), 1)
                         BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END
           ) / 3.0, 6) AS quality
    FROM documents
    """


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline over the embeddings table."""
    v = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = v.filter("vec_id < 5").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = cosine_topk(v, q, k=5)
    return out.select("q_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine"))


def _sql_cosine_topk() -> str:
    return """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
         q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM e WHERE vec_id < 5),
         d AS (
           SELECT q.q_id, v.vec_id,
                  list_dot_product(v.embedding, q.q_vec)
                    / (sqrt(list_dot_product(v.embedding, v.embedding))
                       * sqrt(list_dot_product(q.q_vec, q.q_vec))) AS cos,
                  row_number() OVER (
                    PARTITION BY q.q_id
                    ORDER BY list_dot_product(v.embedding, q.q_vec)
                               / (sqrt(list_dot_product(v.embedding, v.embedding))
                                  * sqrt(list_dot_product(q.q_vec, q.q_vec))) DESC,
                             v.vec_id
                  ) AS rank
           FROM e v CROSS JOIN q
         )
    SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank, round(cos, 6) AS cosine
    FROM d WHERE rank <= 5
    """


# ---------------------------------------------------------------------------
# phenology / smoothing / validation / misc joins
# ---------------------------------------------------------------------------

_SG7 = "(-2*{p3} + 3*{p2} + 6*{p1} + 7*tmax + 6*{n1} + 3*{n2} - 2*{n3}) / 21.0"


def q_smooth_savgol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 Savitzky-Golay smoothing (`phenocrop/smooth.py:62`) via grouped
    applyInPandas; interior rows only, so the DuckDB oracle is the exact
    rational-coefficient window dot product ((-2,3,6,7,6,3,-2)/21)."""
    w = synth.weather_daily_df(spark, W_CELLS, W_DAYS)
    sm = smooth_series(
        w.select("cell_id", "date", "tmax"), "tmax",
        by="cell_id", order="date", window_length=7, polyorder=2,
    )
    win = Window.partitionBy("cell_id").orderBy("date")
    out = sm.withColumn("pos", F.row_number().over(win)).filter(
        (F.col("pos") >= 4) & (F.col("pos") <= W_DAYS - 3)
    )
    return out.select(
        "cell_id",
        F.date_format("date", "yyyy-MM-dd").alias("d"),
        F.round("tmax_smoothed", 6).alias("tmax_sm"),
    )


def _sql_smooth_savgol() -> str:
    expr = _SG7.format(
        p3="lag(tmax, 3) OVER win", p2="lag(tmax, 2) OVER win",
        p1="lag(tmax, 1) OVER win", n1="lead(tmax, 1) OVER win",
        n2="lead(tmax, 2) OVER win", n3="lead(tmax, 3) OVER win",
    )
    return f"""
    WITH w AS ({synth.weather_daily_sql(W_CELLS, W_DAYS)}),
         s AS (
           SELECT cell_id, date, {expr} AS sm,
                  row_number() OVER win AS pos
           FROM w WINDOW win AS (PARTITION BY cell_id ORDER BY date)
         )
    SELECT cell_id, strftime(date, '%Y-%m-%d') AS d, round(sm, 6) AS tmax_sm
    FROM s WHERE pos BETWEEN 4 AND {W_DAYS - 3}
    """


def q_smooth_gaussian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 Gaussian smoothing (`phenocrop/smooth.py:24-38` symm_gaussian) via
    the same grouped applyInPandas as savgol. sigma=1, truncate=4 -> radius
    4, a fixed 9-tap normalized exp(-i^2/2) kernel; interior rows only, so
    the DuckDB oracle is the exact weighted lag/lead dot product (both
    engines evaluate exp() in libm double — same precedent as q_crs_project
    trig and the savgol rational weights)."""
    w = synth.weather_daily_df(spark, W_CELLS, W_DAYS)
    sm = smooth_series(
        w.select("cell_id", "date", "tmin"), "tmin",
        by="cell_id", order="date", method="symm_gaussian", sigma=1.0,
    )
    win = Window.partitionBy("cell_id").orderBy("date")
    out = sm.withColumn("pos", F.row_number().over(win)).filter(
        (F.col("pos") >= 5) & (F.col("pos") <= W_DAYS - 4)
    )
    return out.select(
        "cell_id",
        F.date_format("date", "yyyy-MM-dd").alias("d"),
        F.round("tmin_smoothed", 6).alias("tmin_sm"),
    )


def _sql_smooth_gaussian() -> str:
    # normalized kernel: w_i = exp(-i*i/2) / S, S = 1 + 2*sum_{i=1..4}
    norm = "(1.0 + 2.0*(exp(-0.5) + exp(-2.0) + exp(-4.5) + exp(-8.0)))"
    taps = ["1.0 * tmin"]
    for i in range(1, 5):
        taps.append(f"exp({-0.5 * i * i}) * (lag(tmin, {i}) OVER win "
                    f"+ lead(tmin, {i}) OVER win)")
    expr = f"({' + '.join(taps)}) / {norm}"
    return f"""
    WITH w AS ({synth.weather_daily_sql(W_CELLS, W_DAYS)}),
         s AS (
           SELECT cell_id, date, {expr} AS sm,
                  row_number() OVER win AS pos
           FROM w WINDOW win AS (PARTITION BY cell_id ORDER BY date)
         )
    SELECT cell_id, strftime(date, '%Y-%m-%d') AS d, round(sm, 6) AS tmin_sm
    FROM s WHERE pos BETWEEN 5 AND {W_DAYS - 4}
    """


N_SEASON_SITES, SEASON_OBS = 6, 92


def _season_series(spark: SparkSession) -> DataFrame:
    """Per-site multi-season series: site s carries s%3+1 gaussian bumps at
    centers 365*(j+0.5)/k, sampled every 4 days. Ground truth (the planted
    season count) is pure integer arithmetic, so the oracle needs no peak
    logic at all."""
    t = F.col("id")
    site = (t / F.lit(SEASON_OBS)).cast("long")
    doy = (t % F.lit(SEASON_OBS)).cast("double") * 4.0 + 1.0
    k = (site % 3 + 1).cast("int")
    val = F.lit(0.0)
    for j in range(3):
        center = F.lit(365.0) * (F.lit(float(j)) + 0.5) / k.cast("double")
        bump = F.exp(-((doy - center) / F.lit(20.0)) ** 2)
        val = val + F.when(F.lit(j) < k, bump).otherwise(F.lit(0.0))
    return spark.range(N_SEASON_SITES * SEASON_OBS).select(
        site.alias("site_id"), doy.alias("doy"),
        F.date_add(F.to_date(F.lit("2020-01-01")), (doy - 1).cast("int")).alias("date"),
        val.alias("ndvi"),
    )


def q_count_seasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 season counting: peaks >= 75th pct, min separation ceil(n/4)
    (`phenocrop/detect_season.py:33-41`), run on planted k-season series —
    the DuckDB oracle is the planted ground truth (site s has s%3+1 seasons),
    so a hash-match proves the detector recovers every planted count. The
    greedy pruning kernel itself is pinned against noisy series in pytest."""
    s = _season_series(spark)
    out = count_seasons(s.select("site_id", "date", "ndvi"), "ndvi",
                        by="site_id", order="date")
    return out.select("site_id", "n_seasons")


def _sql_count_seasons() -> str:
    return f"""
    SELECT CAST(s AS BIGINT) AS site_id, CAST(s % 3 + 1 AS INTEGER) AS n_seasons
    FROM (SELECT unnest(range({N_SEASON_SITES})) AS s)
    """


def _ndvi_series(spark: SparkSession, n_sites: int = 6, n_obs: int = 46) -> DataFrame:
    """Deterministic per-site NDVI curves: exact double-logistic in pure
    Column arithmetic (noise-free — the fit oracle checks exact parameter
    recovery; robustness to jitter is pinned in pytest)."""
    t = F.col("id")
    site = (t / F.lit(n_obs)).cast("long")
    doy = (t % F.lit(n_obs)) * 8 + 1
    c = F.lit(4.0) + (site % 3).cast("double")
    x01 = F.lit(120.0) + site.cast("double") * 5.0
    s1 = 1.0 / (1.0 + F.exp(-0.08 * (doy - x01)))
    s2 = 1.0 / (1.0 + F.exp(-0.1 * (doy - F.lit(250.0))))
    return spark.range(n_sites * n_obs).select(
        site.alias("site_id"),
        doy.cast("double").alias("doy"),
        (c * (s1 - s2)).alias("ndvi"),
    )


def q_double_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 double-logistic fit + phenology dates (`opc/DoubleLogisticCurve.py`):
    bounded Gauss-Newton per site inside applyInPandas. The DuckDB oracle
    emits the GENERATOR\'s parameters and evaluates the emergence/harvest
    third-derivative peak scan on the true curve — the fit must recover both
    to rounding precision for the hash to match."""
    s = _ndvi_series(spark)
    out = fit_double_logistic(s, "ndvi", by="site_id", doy="doy")
    return out.select(
        "site_id", F.round("c", 3).alias("c_fit"),
        F.round("x01", 1).alias("sos"), F.round("x02", 1).alias("eos"),
        "emergence_doy", "harvest_doy",
    )


def _sql_double_logistic() -> str:
    # d3 of c*(s(k1,x01) - s(k2,x02)) with s\'\'\'(z) = k^3 s(1-s)(1-6s+6s^2);
    # emergence = first strict local max of d3 with d3 >= 0, harvest = last
    # strict local max of -d3 with -d3 >= 0 (find_peaks(height=0) semantics)
    s1 = "(1.0 / (1.0 + exp(-0.08 * (doy - x01))))"
    s2 = "(1.0 / (1.0 + exp(-0.1 * (doy - 250.0))))"
    d3 = (f"c * (0.08*0.08*0.08 * {s1} * (1 - {s1}) * (1 - 6*{s1} + 6*{s1}*{s1})"
          f" - 0.1*0.1*0.1 * {s2} * (1 - {s2}) * (1 - 6*{s2} + 6*{s2}*{s2}))")
    return f"""
    WITH sites AS (
      SELECT CAST(s AS BIGINT) AS site_id,
             4.0 + CAST(s % 3 AS DOUBLE) AS c,
             120.0 + CAST(s AS DOUBLE) * 5.0 AS x01
      FROM (SELECT unnest(range(6)) AS s)
    ),
    grid AS (
      SELECT site_id, c, x01, CAST(d AS DOUBLE) AS doy, {d3} AS d3
      FROM sites, (SELECT unnest(range(365)) AS d)
    ),
    lagged AS (
      SELECT site_id, c, x01, doy, d3,
             lag(d3) OVER w AS pd, lead(d3) OVER w AS nd
      FROM grid WINDOW w AS (PARTITION BY site_id ORDER BY doy)
    ),
    marks AS (
      SELECT site_id, c, x01, doy,
             (pd < d3 AND nd < d3 AND d3 >= 0) AS is_up,
             (pd > d3 AND nd > d3 AND -d3 >= 0) AS is_dn
      FROM lagged WHERE pd IS NOT NULL AND nd IS NOT NULL
    )
    SELECT site_id, round(c, 3) AS c_fit, round(x01, 1) AS sos,
           250.0 AS eos,
           CAST(min(CASE WHEN is_up THEN doy END) AS BIGINT) AS emergence_doy,
           CAST(max(CASE WHEN is_dn THEN doy END) AS BIGINT) AS harvest_doy
    FROM marks GROUP BY site_id, c, x01
    """


HARM_W = 2.0 * 3.141592653589793 / 365.0


def _harmonic_series(spark: SparkSession, n_sites: int = 6, n_obs: int = 46) -> DataFrame:
    """Exact 3rd-order harmonic curves with site-dependent coefficients —
    the linear lstsq fit recovers them to machine precision, so the oracle
    emits the generator\'s coefficients directly."""
    t = F.col("id")
    site = (t / F.lit(n_obs)).cast("long")
    x = ((t % F.lit(n_obs)) * 8 + 1).cast("double")
    sd = site.cast("double")
    val = (
        F.lit(2.0) + sd * 0.5
        + F.lit(0.002) * x
        + F.lit(1e-6) * x * x
        + (F.lit(1.0) + sd * 0.1) * F.sin(F.lit(HARM_W) * x)
        + F.lit(0.5) * F.cos(F.lit(HARM_W) * x)
        + F.lit(0.3) * F.sin(F.lit(2 * HARM_W) * x)
        + (site % 3).cast("double") * 0.2 * F.cos(F.lit(2 * HARM_W) * x)
        + F.lit(0.1) * F.sin(F.lit(3 * HARM_W) * x)
        + F.lit(0.05) * F.cos(F.lit(3 * HARM_W) * x)
    )
    return spark.range(n_sites * n_obs).select(
        site.alias("site_id"), x.alias("doy"), val.alias("ndvi")
    )


def q_harmonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8b harmonic regression per site (exact lstsq inside applyInPandas),
    on exact-harmonic input: the oracle emits the generator\'s coefficients
    and counts the true curve\'s sampled peaks — coefficient recovery to
    4-decimal rounding is the pass condition."""
    s = _harmonic_series(spark)
    out = fit_harmonic(s, "ndvi", by="site_id", doy="doy")
    return out.select(
        "site_id",
        F.round("c1", 4).alias("c1_fit"),
        F.round("c4", 4).alias("c4_fit"),
        F.round("c7", 4).alias("c7_fit"),
        "n_seasons",
    )


def _sql_harmonic_fit() -> str:
    w = repr(HARM_W)
    curve = (f"(2.0 + s*0.5 + 0.002*x + 1e-6*x*x"
             f" + (1.0 + s*0.1) * sin({w}*x) + 0.5 * cos({w}*x)"
             f" + 0.3 * sin(2*{w}*x) + (site_id % 3) * 0.2 * cos(2*{w}*x)"
             f" + 0.1 * sin(3*{w}*x) + 0.05 * cos(3*{w}*x))")
    return f"""
    WITH sites AS (
      SELECT CAST(t AS BIGINT) AS site_id, CAST(t AS DOUBLE) AS s
      FROM (SELECT unnest(range(6)) AS t)
    ),
    grid AS (
      SELECT site_id, s, CAST(o * 8 + 1 AS DOUBLE) AS x
      FROM sites, (SELECT unnest(range(46)) AS o)
    ),
    vals AS (
      SELECT site_id, s, x, {curve} AS v FROM grid
    ),
    lagged AS (
      SELECT site_id, s, v, lag(v) OVER w AS pv, lead(v) OVER w AS nv
      FROM vals WINDOW w AS (PARTITION BY site_id ORDER BY x)
    )
    SELECT site_id,
           round(2.0 + s * 0.5, 4) AS c1_fit,
           round(1.0 + s * 0.1, 4) AS c4_fit,
           round((site_id % 3) * 0.2, 4) AS c7_fit,
           CAST(count(CASE WHEN pv < v AND nv < v THEN 1 END) AS INTEGER)
             AS n_seasons
    FROM lagged WHERE pv IS NOT NULL AND nv IS NOT NULL
    GROUP BY site_id, s
    """


def _agauss_series(spark: SparkSession, n_sites: int = 6, n_obs: int = 46) -> DataFrame:
    """Exact asymmetric-Gaussian curves (skew-normal shape) per site. erf has
    no Column/DuckDB equivalent, so generation runs in the same Arrow-batched
    numpy as the fit — while the ORACLE only needs the planted parameters
    (pure literals)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from geo_epic_spark.operators.phenology import asym_gaussian

    schema = StructType([
        StructField("site_id", LongType()),
        StructField("doy", DoubleType()),
        StructField("ndvi", DoubleType()),
    ])

    def gen(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for s in pdf["site_id"]:
            x = np.arange(n_obs, dtype=np.float64) * 8 + 1
            amp, ctr = 2.0 + s % 3, 150.0 + 10.0 * s
            sg, al = 30.0 + 3.0 * (s % 4), 1.0 + 0.5 * (s % 2)
            y = asym_gaussian(x, amp, ctr, sg, al)
            out.append(pd.DataFrame({"site_id": s, "doy": x, "ndvi": y}))
        return pd.concat(out, ignore_index=True)

    sites = spark.range(n_sites).select(F.col("id").alias("site_id"))
    return sites.groupBy("site_id").applyInPandas(gen, schema)


def q_asym_gaussian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8c asymmetric-Gaussian fit (`opc/AssymetricGaussian.py:6-62` parity):
    Cauchy-robust bounded Gauss-Newton per site. Oracle = the generator\'s
    planted parameters (+ rmse 0) — exact recovery to rounding precision.
    Phenology dates need erf (absent from DuckDB) and are pinned in pytest."""
    from geo_epic_spark.operators.phenology import fit_asym_gaussian

    s = _agauss_series(spark)
    out = fit_asym_gaussian(s, "ndvi", by="site_id", doy="doy")
    return out.select(
        "site_id",
        F.round("amplitude", 4).alias("amp_fit"),
        F.round("center", 3).alias("center_fit"),
        F.round("sigma", 3).alias("sigma_fit"),
        F.round("alpha", 4).alias("alpha_fit"),
        F.round("rmse", 4).alias("rmse_r"),
    )


def _sql_asym_gaussian() -> str:
    return """
    SELECT CAST(s AS BIGINT) AS site_id,
           round(2.0 + s % 3, 4) AS amp_fit,
           round(150.0 + 10.0 * s, 3) AS center_fit,
           round(30.0 + 3.0 * (s % 4), 3) AS sigma_fit,
           round(1.0 + 0.5 * (s % 2), 4) AS alpha_fit,
           0.0 AS rmse_r
    FROM (SELECT unnest(range(6)) AS s)
    """


def q_validate_dly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLY validator (§5): range + continuity checks as one distributed
    aggregation. Violations planted deterministically: rh+2 on day 15 (24/cell),
    ws nulls from the generator, and the 731st day (2020 is a leap year) is
    absent from the 730-day table -> one missing date per cell."""
    w = synth.weather_daily_df(spark, W_CELLS, W_DAYS)
    w = (
        w.withColumn("month", F.month("date"))
        .withColumn("day", F.dayofmonth("date"))
        .withColumn("rh", F.when(F.col("day") == 15, F.col("rh") + 2.0)
                    .otherwise(F.col("rh")))
    )
    out = dly_violations(w, ["cell_id"], 2019, 2020)
    return out.withColumn("n_bad", F.col("n_bad").cast("long"))


def _sql_validate_dly() -> str:
    base = synth.weather_daily_sql(W_CELLS, W_DAYS)
    checks = {
        "srad": "srad IS NULL OR srad < 0.01 OR srad > 900",
        "tmin": "tmin IS NULL OR tmin < -50 OR tmin > 100",
        "tmax": "tmax IS NULL OR tmax < -50 OR tmax > 100",
        "prcp": "prcp IS NULL OR prcp < 0 OR prcp > 900",
        "rh": "rh IS NULL OR rh < 0 OR rh > 1",
        "ws": "ws IS NULL OR ws < 0 OR ws > 900",
        "month": "month(date) IS NULL OR month(date) < 1 OR month(date) > 12",
        "day": "day(date) IS NULL OR day(date) < 1 OR day(date) > 31",
    }
    branches = "\n UNION ALL ".join(
        f"SELECT cell_id, '{c}' AS \"column\", CAST(SUM(CASE WHEN {p} THEN 1 ELSE 0 END) AS BIGINT) AS n_bad FROM w GROUP BY cell_id"
        for c, p in checks.items()
    )
    return f"""
    WITH w0 AS ({base}),
         w AS (SELECT cell_id, date, srad, tmax, tmin, prcp,
                      rh + CASE WHEN day(date) = 15 THEN 2.0 ELSE 0.0 END AS rh,
                      ws
               FROM w0),
         ranges AS ({branches}),
         missing AS (
           SELECT cell_id, '__missing_date' AS "column",
                  CAST(731 - count(DISTINCT date) AS BIGINT) AS n_bad
           FROM w GROUP BY cell_id
         )
    SELECT * FROM (SELECT * FROM ranges UNION ALL SELECT * FROM missing)
    WHERE n_bad > 0
    """


def q_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: outer-join two per-date aggregates and mean-coalesce the pair
    (`gee/core.py:215-225` merge of GEE collection frames)."""
    e = _t(spark, sf_dir, "events")
    a = (
        e.filter(F.col("event_type") == "click")
        .groupBy(F.to_date("ts").alias("d")).agg(F.avg("value").alias("va"))
    )
    b = (
        e.filter(F.col("event_type") == "view")
        .groupBy(F.to_date("ts").alias("d")).agg(F.avg("value").alias("vb"))
    )
    m = a.join(b, "d", "outer").withColumn(
        "v",
        F.when(F.col("va").isNotNull() & F.col("vb").isNotNull(),
               (F.col("va") + F.col("vb")) / 2.0)
        .otherwise(F.coalesce("va", "vb")),
    )
    return m.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"), F.round("v", 6).alias("v")
    )


def _sql_outer_coalesce() -> str:
    return """
    WITH a AS (SELECT CAST(ts AS DATE) AS d, avg(value) AS va FROM events
               WHERE event_type = 'click' GROUP BY 1),
         b AS (SELECT CAST(ts AS DATE) AS d, avg(value) AS vb FROM events
               WHERE event_type = 'view' GROUP BY 1)
    SELECT strftime(coalesce(a.d, b.d), '%Y-%m-%d') AS d,
           round(CASE WHEN va IS NOT NULL AND vb IS NOT NULL THEN (va + vb) / 2.0
                      ELSE coalesce(va, vb) END, 6) AS v
    FROM a FULL OUTER JOIN b ON a.d = b.d
    """


def q_envelope_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 envelope clipping (`utils/profile.py:430-440`): join each daily
    value to its month-day envelope (cross-cell min/max) and clip into
    [lo+1, hi-1]."""
    w = synth.weather_daily_df(spark, W_CELLS, W_DAYS)
    env = w.groupBy(F.date_format("date", "MM-dd").alias("md")).agg(
        F.min("tmax").alias("lo"), F.max("tmax").alias("hi")
    )
    out = (
        w.withColumn("md", F.date_format("date", "MM-dd"))
        .join(F.broadcast(env), "md")
        .withColumn(
            "tmax_clipped",
            F.greatest(F.least(F.col("tmax"), F.col("hi") - 1.0), F.col("lo") + 1.0),
        )
    )
    return out.select(
        "cell_id", F.date_format("date", "yyyy-MM-dd").alias("d"),
        F.round("tmax_clipped", 6).alias("tmax_clipped"),
    )


def _sql_envelope_clip() -> str:
    return f"""
    WITH w AS ({synth.weather_daily_sql(W_CELLS, W_DAYS)}),
         env AS (
           SELECT strftime(date, '%m-%d') AS md, min(tmax) AS lo, max(tmax) AS hi
           FROM w GROUP BY 1
         )
    SELECT cell_id, strftime(date, '%Y-%m-%d') AS d,
           round(greatest(least(tmax, hi - 1.0), lo + 1.0), 6) AS tmax_clipped
    FROM w JOIN env ON strftime(w.date, '%m-%d') = env.md
    """


def q_lai_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end profile pipeline (`utils/profile.py:30-76,40-51,430-440`):
    sparse 8-day observations -> daily reindex + linear interpolation ->
    centered rolling median -> per-month-day envelope clip. Composes W4, W3
    and W9 in one DAG, oracled as the equivalent chained SQL."""
    from geo_epic_spark.operators.timeseries import (
        envelope_clip, interpolate_daily, rolling_median,
    )

    w = synth.weather_daily_df(spark, W_CELLS, W_DAYS)
    obs = w.filter(F.dayofmonth("date") % 8 == 1).select("cell_id", "date", "tmax")
    interp = interpolate_daily(obs, "tmax", by=["cell_id"])
    rmed = rolling_median(interp, "tmax_interp", order="date", by=["cell_id"],
                          half_window=2)
    env = (
        rmed.groupBy(F.date_format("date", "MM-dd").alias("md"))
        .agg((F.min("tmax_interp_rmed") + 1.0).alias("lo"),
             (F.max("tmax_interp_rmed") - 1.0).alias("hi"))
    )
    out = envelope_clip(
        rmed.withColumn("md", F.date_format("date", "MM-dd")),
        env, "tmax_interp_rmed", on=["md"],
    )
    return out.select(
        "cell_id", F.date_format("date", "yyyy-MM-dd").alias("d"),
        F.round("tmax_interp_rmed_clipped", 6).alias("profile"),
    )


def _sql_lai_profile() -> str:
    return f"""
    WITH w AS ({synth.weather_daily_sql(W_CELLS, W_DAYS)}),
         obs AS (SELECT cell_id, date, tmax FROM w WHERE day(date) % 8 = 1),
         spans AS (SELECT cell_id, min(date) AS d0, max(date) AS d1 FROM obs GROUP BY 1),
         spine AS (
           SELECT cell_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS date
           FROM spans
         ),
         filled AS (
           SELECT s.cell_id, s.date, o.tmax
           FROM spine s LEFT JOIN obs o ON s.cell_id = o.cell_id AND s.date = o.date
         ),
         f2 AS (
           SELECT cell_id, date, tmax,
             last_value(tmax IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN tmax IS NOT NULL THEN date END IGNORE NULLS) OVER wb AS pd,
             first_value(tmax IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN tmax IS NOT NULL THEN date END IGNORE NULLS) OVER wf AS nd
           FROM filled
           WINDOW wb AS (PARTITION BY cell_id ORDER BY date
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  wf AS (PARTITION BY cell_id ORDER BY date
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         ),
         interp AS (
           SELECT cell_id, date,
             CASE WHEN tmax IS NOT NULL THEN tmax
                  WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  ELSE pv + (nv - pv) * (date_diff('day', pd, date) * 1.0
                                         / date_diff('day', pd, nd)) END AS v
           FROM f2
         ),
         rmed AS (
           SELECT cell_id, date,
             median(v) OVER (PARTITION BY cell_id ORDER BY date
                             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS vr
           FROM interp
         ),
         env AS (
           SELECT strftime(date, '%m-%d') AS md,
                  min(vr) + 1.0 AS lo, max(vr) - 1.0 AS hi
           FROM rmed GROUP BY 1
         )
    SELECT cell_id, strftime(rmed.date, '%Y-%m-%d') AS d,
           round(greatest(least(vr, hi), lo), 6) AS profile
    FROM rmed JOIN env ON strftime(rmed.date, '%m-%d') = env.md
    """


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: most distinct stopword hits wins, ties to the
    lexicographically larger code, 'und' when nothing hits."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def _sql_lang_id() -> str:
    from geo_epic_spark.operators.text import STOPWORDS

    stop_rows = ", ".join(
        "('{}', [{}])".format(lg, ", ".join(f"'{w}'" for w in ws))
        for lg, ws in STOPWORDS.items()
    )
    return f"""
    WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words
               FROM documents),
         h AS (
           SELECT doc_id, s.lang,
                  len(list_distinct(list_intersect(words, s.stop))) AS hits
           FROM w CROSS JOIN (VALUES {stop_rows}) AS s(lang, stop)
         ),
         r AS (
           SELECT doc_id, lang, hits,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY hits DESC, lang DESC) AS rn
           FROM h
         )
    SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred
    FROM r WHERE rn = 1
    """


# ---------------------------------------------------------------------------
# non-SQL-expressible ops (rows-only driver check; invariants in pytest)
# ---------------------------------------------------------------------------

def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (scale path of q_cosine_topk): coarse-quantize to 8
    centroid lists, probe the 3 nearest per query. Centroids here are a
    deterministic pick (the first 8 vectors) so the ENTIRE approximate
    pipeline — list assignment, probe selection, in-list exact rank — is
    reproduced by the DuckDB oracle; the kmeans-seeded build path and the
    recall-vs-exact invariant stay in pytest (test_ivf_topk_recall)."""
    from geo_epic_spark.operators.similarity import ivf_assign, ivf_topk

    v = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents = [
        [float(x) for x in r["embedding"]]
        for r in v.filter("vec_id < 8").orderBy("vec_id").collect()
    ]
    assigned = ivf_assign(v, cents)
    q = v.filter("vec_id < 5").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ivf_topk(assigned, q, cents, k=5, nprobe=3)
    return out.select("q_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine"))


def _sql_ivf_topk() -> str:
    # mirror ivf_assign (nearest-centroid by squared L2, ties -> lowest
    # centroid id), the per-query nprobe=3 probe list, and the in-list
    # (cosine desc, vec_id) top-5 rank
    return """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
               FROM embeddings),
         c AS (SELECT vec_id AS cid, embedding AS cvec FROM e WHERE vec_id < 8),
         asg AS (
           SELECT vec_id, embedding, cid,
                  row_number() OVER (
                    PARTITION BY vec_id
                    ORDER BY list_distance(embedding, cvec), cid
                  ) AS rn
           FROM e CROSS JOIN c
         ),
         assigned AS (SELECT vec_id, embedding, cid AS ivf_list
                      FROM asg WHERE rn = 1),
         q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM e WHERE vec_id < 5),
         probes AS (
           SELECT q_id, q_vec, cid AS ivf_list,
                  row_number() OVER (
                    PARTITION BY q_id
                    ORDER BY list_distance(q_vec, cvec), cid
                  ) AS prn
           FROM q CROSS JOIN c
         ),
         cand AS (
           SELECT p.q_id, v.vec_id,
                  list_dot_product(v.embedding, p.q_vec)
                    / (sqrt(list_dot_product(v.embedding, v.embedding))
                       * sqrt(list_dot_product(p.q_vec, p.q_vec))) AS cos
           FROM probes p JOIN assigned v ON p.ivf_list = v.ivf_list
           WHERE p.prn <= 3
         ),
         ranked AS (
           SELECT q_id, vec_id, cos,
                  row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, vec_id) AS rank
           FROM cand
         )
    SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank, round(cos, 6) AS cosine
    FROM ranked WHERE rank <= 5
    """


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified. The DuckDB oracle is the
    FULL exact n-gram Jaccard pair set at the same threshold — so the driver
    hash-match doubles as a 100% recall proof for the banded config (rows=2,
    bands=32) on this corpus: any pair the LSH misses fails the check."""
    d = _t(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(d, threshold=0.125, num_hashes=64, bands=32, partitions=32)
    return out.select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))


def _sql_minhash_lsh() -> str:
    # identical pair set to the exact shingle-join oracle: LSH recall on this
    # corpus is exactly 1 (verified — that's the point of this oracle row)
    return _sql_ngram_jaccard()


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via 16-bit block bucketing + popcount verify.
    Uses the portable md5-derived 60-bit word hash so the DuckDB oracle can
    recompute the identical simhash values and mirror the block-candidate +
    hamming-verify semantics exactly (including the max_hamming > 3
    incompleteness of the 4-block pigeonhole filter)."""
    d = _t(spark, sf_dir, "documents")
    out = simhash_dup_pairs(d, max_hamming=8, bits=60, word_hash="md5_60")
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _sql_simhash_pairs() -> str:
    # reproduce the simhash bit-for-bit: per (doc, bit) signed sums over
    # md5-60 word hashes, reassemble bits 0..58, then the same 4x16-bit
    # block-collision candidate filter + popcount verify as the Spark plan
    return """
    WITH words AS (
      SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
            FROM documents)
    ),
    bitsum AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM words, (SELECT unnest(range(59)) AS bit) b
      GROUP BY 1, 2
    ),
    sh AS (
      SELECT doc_id,
             sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS simhash
      FROM bitsum GROUP BY 1
    ),
    blocks AS (
      SELECT doc_id, simhash, b.blk, (simhash >> (b.blk * 16)) & 65535 AS bval
      FROM sh, (SELECT unnest(range(4)) AS blk) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM blocks a JOIN blocks b
        ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::BIGINT AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 8
    """


# planted-duplicate jitter for the embedding near-dup query: element k of the
# copy of vector i is shifted by JIT_EPS * (u(i,k) - 0.5) with the synth-style
# integer-hash uniform — reproducible bit-for-bit in DuckDB, and sized so
# planted pairs sit at cosine ~0.997 while the densest natural pair is ~0.55
JIT_EPS = 0.033
JIT_OFF = 1_000_000


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs over embeddings, cosine-verified.

    The corpus has no natural near-duplicates (max pair cosine ~0.55), so the
    query plants one jittered copy per vector (portable hash arithmetic) and
    detects the 500 planted pairs at threshold 0.99 with an 8-plane x 12-band
    banded LSH (miss probability ~1e-12/pair at cosine 0.997). The DuckDB
    oracle rebuilds the same jittered table and emits ALL pairs with cosine
    >= 0.99 — hash-match therefore proves both recall (every planted pair
    found) and precision (nothing else admitted)."""
    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # jitter FIRST, rename second: with the shifted id aliased in the same
    # select, Spark resolves the lambda's vec_id against the lateral alias
    # (the +1e6 id), silently desyncing from the oracle's hash input
    jit = v.select(
        "vec_id",
        F.transform(
            "embedding",
            # NB: constants deliberately differ from the LSH hyperplane
            # generator (M[0], 40503, 9176 in dedup.embedding_near_dup_pairs)
            # — sharing them correlates the jitter with the plane normals and
            # inflates the bit-flip rate far beyond an independent
            # perturbation (measured: 111/500 planted pairs missed)
            lambda x, k: x
            + F.lit(JIT_EPS)
            * (
                ((F.col("vec_id") * F.lit(synth.M[1]) + k * F.lit(48611) + F.lit(7919))
                 % F.lit(4294967296)) / F.lit(4294967296.0)
                - F.lit(0.5)
            ),
        ).alias("embedding"),
    ).select((F.col("vec_id") + JIT_OFF).alias("vec_id"), "embedding")
    both = v.unionByName(jit)
    out = embedding_near_dup_pairs(both, threshold=0.99, planes=8, bands=12)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _sql_embedding_near_dup() -> str:
    u = f"(((e.vec_id * {synth.M[1]} + k * 48611 + 7919) % 4294967296) / 4294967296.0)"
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
               FROM embeddings),
         jit AS (
           SELECT e.vec_id + {JIT_OFF} AS vec_id,
                  list(e.embedding[k + 1] + {JIT_EPS} * ({u} - 0.5)
                       ORDER BY k) AS embedding
           FROM e, (SELECT unnest(range(64)) AS k)
           GROUP BY e.vec_id
         ),
         allv AS (SELECT * FROM e UNION ALL SELECT * FROM jit),
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  list_dot_product(a.embedding, b.embedding)
                    / (sqrt(list_dot_product(a.embedding, a.embedding))
                       * sqrt(list_dot_product(b.embedding, b.embedding))) AS c
           FROM allv a JOIN allv b ON a.vec_id < b.vec_id
         )
    SELECT id_a, id_b, round(c, 6) AS cosine FROM pairs WHERE c >= 0.99
    """


def q_image_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image payload pipeline (axes A+B): distributed generate -> decode ->
    PSNR/phash/caption invariants; returns per-format violation counts
    (all-zero row per format = pass)."""
    from geo_epic_spark.images.udfs import decode_stats, full_images_df, psnr_vs_regen

    df = full_images_df(spark, 500)
    checked = df.select(
        "i", "w", "h", "fmt", "phash",
        decode_stats("bytes", "fmt").alias("s"),
        psnr_vs_regen("bytes", "fmt", "i").alias("p"),
    )
    return checked.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("s.dec_w") != F.col("w")).cast("int")).alias("bad_shape"),
        F.sum((F.col("s.phash_rt") != F.col("phash")).cast("int")).alias("bad_phash"),
        F.sum((F.col("p") < 40.0).cast("int")).alias("bad_psnr"),
    )


def _sql_image_invariants() -> str:
    # ground truth: the generator's fmt split (i%10<7 -> png) and ZERO
    # violations — any decode/PSNR/phash regression breaks the hash match
    return """
    SELECT fmt, count(*) AS n,
           CAST(0 AS BIGINT) AS bad_shape,
           CAST(0 AS BIGINT) AS bad_phash,
           CAST(0 AS BIGINT) AS bad_psnr
    FROM (SELECT CASE WHEN i % 10 < 7 THEN 'png' ELSE 'fjpg' END AS fmt
          FROM (SELECT unnest(range(500)) AS i))
    GROUP BY fmt
    """


def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phash-based dedup grouping (SURVEY §2.10; skip-existing identity
    analog): planted duplicate payloads (pixel seed i % 90) -> groupBy phash,
    keep lowest image_id. The hashes themselves are payload-derived (not
    SQL-computable), but the GROUP STRUCTURE they must induce is ground
    truth: rows i, i+90, i+180 are byte-identical, and no phash may collide
    across groups — the oracle emits exactly that structure, so the hash
    match proves both properties of the perceptual hash."""
    from geo_epic_spark.images.udfs import full_images_df

    df = full_images_df(spark, 270, seed_mod=90)
    return (
        df.groupBy("phash")
        .agg(
            F.min("image_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


def _sql_phash_dedup() -> str:
    return """
    SELECT printf('img%012d', i) AS keep_id, CAST(3 AS BIGINT) AS n_copies
    FROM (SELECT unnest(range(90)) AS i)
    """


def q_knn_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=3 nearest-grid join (J1 with k>1), DuckDB-oracled against a brute
    cross join with the same (distance, grid_id) tie order."""
    pts = synth.images_meta_df(spark, 500).select("i", "cx", "cy")
    grid = synth.grid_df(spark, GRID_NR, GRID_NC, GRID_SP)
    return nearest_grid_join(
        pts, grid, res=GRID_SP, k=3, point_id="i", point_lon="cx", point_lat="cy"
    ).select("i", "grid_id", "nn_rank")


def _sql_knn_k3() -> str:
    return f"""
    WITH pts AS ({synth.images_meta_sql(500)}),
         grid AS ({synth.grid_sql(GRID_NR, GRID_NC, GRID_SP)}),
         d AS (
           SELECT p.i, g.grid_id,
                  row_number() OVER (
                    PARTITION BY p.i
                    ORDER BY (p.cx - g.lon) * (p.cx - g.lon) + (p.cy - g.lat) * (p.cy - g.lat),
                             g.grid_id
                  ) AS nn_rank
           FROM pts p CROSS JOIN grid g
         )
    SELECT i, grid_id, CAST(nn_rank AS INTEGER) AS nn_rank FROM d WHERE nn_rank <= 3
    """


N_OPC_SITES = 10


def _opc_pair(spark: SparkSession):
    """Two deterministic per-site operation schedules. The first runs years
    1..(2 + site%3); the second starts at Yid = site%2 (so even sites
    exercise the reference's min==0 no-rebase escape) and runs 2 years."""

    def sched(n_years_expr, first_yid_expr):
        t = F.col("id")
        site = (t / F.lit(6)).cast("long")
        k = t % 6  # up to 6 op slots per site; filter to n_years*2
        yid = first_yid_expr(site) + (k / 2).cast("long")
        mn = (k % 2) * 5 + 3  # months 3 and 8
        dy = ((site * 7 + k * 11) % 27 + 1).cast("int")
        code = F.when(k % 2 == 0, 2).otherwise(650)
        return (
            spark.range(N_OPC_SITES * 6)
            .select(
                site.alias("site_id"), yid.cast("int").alias("Yid"),
                mn.cast("int").alias("Mn"), dy.alias("Dy"),
                code.cast("int").alias("CODE"), k.alias("__k"),
            )
            .filter(F.col("__k") < n_years_expr(site) * 2)
            .drop("__k")
        )

    first = sched(lambda s: (s % 3 + 2).cast("long"), lambda s: F.lit(1).cast("long"))
    second = sched(lambda s: F.lit(2).cast("long"), lambda s: (s % 2).cast("long"))
    return first, second


def q_opc_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPC append with Yid re-basing (`io/opc.py:605-635`): the second
    schedule's year ids shift to follow the first's last year (min==0
    schedules offset without rebase), then Yr/date rebuild from start_year.
    Oracle = the same rebase as chained SQL."""
    from geo_epic_spark.operators.relational import opc_append

    first, second = _opc_pair(spark)
    out = opc_append(first, second, by=["site_id"], start_year=2000)
    return out.select(
        "site_id", "Yid", "Mn", "Dy", "CODE", "Yr",
        F.date_format("date", "yyyy-MM-dd").alias("op_date"),
    )


def _sql_opc_append() -> str:
    gen = f"""
      SELECT (t // 6) AS site_id, (t % 6) AS k
      FROM (SELECT unnest(range({N_OPC_SITES * 6})) AS t)
    """
    mk = """
      SELECT site_id, CAST({yid} AS INTEGER) AS Yid,
             CAST((k % 2) * 5 + 3 AS INTEGER) AS Mn,
             CAST((site_id * 7 + k * 11) % 27 + 1 AS INTEGER) AS Dy,
             CAST(CASE WHEN k % 2 = 0 THEN 2 ELSE 650 END AS INTEGER) AS CODE
      FROM base WHERE k < {ny} * 2
    """
    first = mk.format(yid="1 + (k // 2)", ny="(site_id % 3 + 2)")
    second = mk.format(yid="(site_id % 2) + (k // 2)", ny="2")
    return f"""
    WITH base AS ({gen}),
         f AS ({first}),
         s AS ({second}),
         offs AS (
           SELECT f.site_id, max(f.Yid) AS last_yid FROM f GROUP BY 1
         ),
         mins AS (
           SELECT s.site_id, min(s.Yid) AS min_yid FROM s GROUP BY 1
         ),
         unioned AS (
           SELECT * FROM f
           UNION ALL
           SELECT s.site_id,
                  CAST(CASE WHEN m.min_yid = 0 THEN s.Yid + o.last_yid
                       ELSE s.Yid - (m.min_yid - 1) + o.last_yid END
                       AS INTEGER) AS Yid,
                  s.Mn, s.Dy, s.CODE
           FROM s JOIN offs o ON s.site_id = o.site_id
                  JOIN mins m ON s.site_id = m.site_id
         )
    SELECT site_id, Yid, Mn, Dy, CODE,
           CAST(2000 + Yid - 1 AS INTEGER) AS Yr,
           strftime(make_date(2000 + Yid - 1, Mn, Dy), '%Y-%m-%d') AS op_date
    FROM unioned
    """


N_OPCV_SITES = 60


def _opc_validate_frame(spark: SparkSession) -> DataFrame:
    """Deterministic OPC schedules with planted violations for every check
    in ``opc_violations``: site%7==3 drops year 2 (missing-year gap),
    site%4==1 pulls op #3's date back 200 days (non-monotonic vs file
    order), site%5==2 loses all plantation codes, site%9==4 all harvest
    codes, and site%11==5 is fallow (CRP=14, exempt from crop checks)."""
    t = F.col("id")
    site = (t / F.lit(6)).cast("long")
    k = (t % 6).cast("long")
    df = (
        spark.range(N_OPCV_SITES * 6)
        .select(
            site.alias("site_id"),
            (F.lit(1) + (k / 2).cast("long")).cast("int").alias("Yid"),
            ((k % 2) * 5 + 3).cast("int").alias("Mn"),
            ((site * 7 + k * 11) % 27 + 1).cast("int").alias("Dy"),
            F.when(k % 2 == 0, F.lit(2)).otherwise(F.lit(650))
            .cast("int").alias("CODE"),
            F.when(site % 11 == 5, F.lit(14)).otherwise(site % 2 + 10)
            .cast("int").alias("CRP"),
            k.alias("__k"),
        )
        .filter(F.col("__k") < (site % 3 + 2) * 2)
    )
    date0 = F.make_date(F.col("Yid") + F.lit(1999), F.col("Mn"), F.col("Dy"))
    return (
        df.withColumn(
            "date",
            F.when((F.col("site_id") % 4 == 1) & (F.col("__k") == 3),
                   F.date_sub(date0, 200)).otherwise(date0),
        )
        .drop("__k")
        .filter(~((F.col("site_id") % 7 == 3) & (F.col("Yid") == 2)))
        .filter(~((F.col("site_id") % 5 == 2) & (F.col("CODE") == 2)))
        .filter(~((F.col("site_id") % 9 == 4) & (F.col("CODE") == 650)))
    )


def q_opc_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPC schedule validator (`geoEpic/io/opc.py:638-671`): year-coverage
    gaps, non-monotonic op dates, and crops missing plantation/harvest
    codes, each as one distributed aggregation over all schedules (W5/P2
    surface; the reference loops per file)."""
    from geo_epic_spark.functions.validators import opc_violations

    out = opc_violations(_opc_validate_frame(spark), ["site_id"])
    return out.withColumn("n_bad", F.col("n_bad").cast("long"))


def _sql_opc_validate() -> str:
    return f"""
    WITH raw AS (
      SELECT (t // 6) AS site_id, (t % 6) AS k
      FROM (SELECT unnest(range({N_OPCV_SITES * 6})) AS t)
    ),
    ops0 AS (
      SELECT site_id,
             CAST(1 + (k // 2) AS INTEGER) AS Yid,
             CAST((k % 2) * 5 + 3 AS INTEGER) AS Mn,
             CAST((site_id * 7 + k * 11) % 27 + 1 AS INTEGER) AS Dy,
             CAST(CASE WHEN k % 2 = 0 THEN 2 ELSE 650 END AS INTEGER) AS CODE,
             CAST(CASE WHEN site_id % 11 = 5 THEN 14
                       ELSE 10 + (site_id % 2) END AS INTEGER) AS CRP,
             k
      FROM raw WHERE k < ((site_id % 3) + 2) * 2
    ),
    ops AS (
      SELECT site_id, Yid, Mn, Dy, CODE, CRP,
             make_date(2000 + Yid - 1, Mn, Dy)
               - CASE WHEN site_id % 4 = 1 AND k = 3 THEN 200 ELSE 0 END
                 * INTERVAL 1 DAY AS "date"
      FROM ops0
      WHERE NOT (site_id % 7 = 3 AND Yid = 2)
        AND NOT (site_id % 5 = 2 AND CODE = 2)
        AND NOT (site_id % 9 = 4 AND CODE = 650)
    ),
    my AS (
      SELECT site_id,
             CAST(max(Yid) - count(DISTINCT Yid) AS BIGINT) AS n_bad
      FROM ops GROUP BY 1
    ),
    dec AS (
      SELECT site_id,
             CASE WHEN "date" < lag("date") OVER
                  (PARTITION BY site_id ORDER BY Yid, Mn, Dy)
                  THEN 1 ELSE 0 END AS d
      FROM ops
    ),
    crops AS (
      SELECT site_id, CRP,
             max(CASE WHEN CODE IN (2, 3) THEN 1 ELSE 0 END) AS p,
             max(CASE WHEN CODE = 650 THEN 1 ELSE 0 END) AS h
      FROM ops WHERE CRP <> 14 GROUP BY 1, 2
    )
    SELECT site_id, '__missing_year' AS "column", n_bad
    FROM my WHERE n_bad > 0
    UNION ALL
    SELECT site_id, '__date_not_monotonic' AS "column",
           CAST(sum(d) AS BIGINT) AS n_bad
    FROM dec GROUP BY site_id HAVING sum(d) > 0
    UNION ALL
    SELECT site_id, '__crop_without_plantation' AS "column",
           CAST(count(*) AS BIGINT) AS n_bad
    FROM crops WHERE p = 0 GROUP BY site_id
    UNION ALL
    SELECT site_id, '__crop_without_harvest' AS "column",
           CAST(count(*) AS BIGINT) AS n_bad
    FROM crops WHERE h = 0 GROUP BY site_id
    """


def q_required_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 required-column validation as a report query (`core/workspace.py:
    315-317` required = {SiteID, soil, opc, dly, lat, lon}; `sites/
    generate.py:33-35`): a run-info frame derived from `customer` where the
    `dly` column is absent entirely (every row violates) and `opc` carries
    planted NULLs (c_custkey % 7 == 0). One single-pass aggregate + stack()
    melt — empty output would mean the contract holds. The assertion form
    (`require_columns`, raise-at-plan-time) is pinned in test_validators."""
    from geo_epic_spark.functions.validators import (
        RUN_INFO_REQUIRED, required_column_violations)

    run_info = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("SiteID"),
        F.col("c_nationkey").alias("soil"),
        F.when(F.col("c_custkey") % 7 != 0, F.col("c_mktsegment")).alias("opc"),
        (F.col("c_acctbal") / 1000.0).alias("lat"),
        (F.col("c_acctbal") / 500.0).alias("lon"),
    )
    return required_column_violations(run_info, RUN_INFO_REQUIRED)


_SQL_REQUIRED_COLUMNS = """
SELECT 'dly' AS col_name, '__missing_column' AS issue,
       CAST(count(*) AS BIGINT) AS n_bad
FROM customer
UNION ALL
SELECT 'opc' AS col_name, '__null' AS issue,
       CAST(sum(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bad
FROM customer
"""


def q_registry_hook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 UDF extension point driven end-to-end: register a grouped
    pandas routine by name and run it via ``apply_routine`` as one
    Arrow-batched ``applyInPandas`` stage (the reference's dynamic
    ``import_function`` post-process hooks, `geoEpic/utils/misc.py:97-133`,
    `workspace/post_process.py:20`). The routine computes per-customer
    order-date gap statistics, so the oracle is a plain lag-window SQL."""
    import pandas as pd

    from geo_epic_spark.functions.registry import apply_routine, register

    @register("order_gaps")
    def order_gaps(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["o_orderdate", "o_orderkey"])
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({
                "o_custkey": pd.Series([], dtype="int64"),
                "n_orders": pd.Series([], dtype="int64"),
                "avg_gap_days": pd.Series([], dtype="float64"),
            })
        gaps = pdf["o_orderdate"].diff().dropna().dt.days
        return pd.DataFrame({
            "o_custkey": [int(pdf["o_custkey"].iloc[0])],
            "n_orders": [n],
            "avg_gap_days": [round(float(gaps.mean()), 6)],
        })

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    return apply_routine(
        o, "order_gaps", by="o_custkey",
        schema="o_custkey long, n_orders long, avg_gap_days double",
    )


_SQL_REGISTRY_HOOK = """
WITH g AS (
  SELECT o_custkey, o_orderdate,
         lag(o_orderdate) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS prev
  FROM orders
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(avg(date_diff('day', prev, o_orderdate)), 6) AS avg_gap_days
FROM g
GROUP BY o_custkey
HAVING count(*) >= 2
"""


N_AUDIO, N_VIDEO = 200, 150


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio payload pipeline (multimodal axis): synth PCM16 clips -> decode
    -> features (duration, rms, peak, zero crossings), Arrow-batched. The
    generator is integer-hash arithmetic, so the oracle recomputes every
    feature EXACTLY in SQL from the same formula — the hash match proves the
    byte round trip (int16 LE encode -> frombuffer decode) and the feature
    kernels together."""
    from geo_epic_spark import media

    a = media.synth_audio_df(spark, N_AUDIO)
    return a.select(
        "audio_id", media.audio_features("bytes", "sr").alias("f")
    ).select(
        "audio_id",
        F.round("f.duration_s", 6).alias("duration_s"),
        F.round("f.rms", 6).alias("rms"),
        F.col("f.peak").alias("peak"),
        F.col("f.zero_crossings").alias("zero_crossings"),
    )


def _sql_audio_features() -> str:
    from geo_epic_spark.media import A_M1, A_M2, AUDIO_SAMPLES, AUDIO_SR

    return f"""
    WITH s AS (
      SELECT i, k, ((i * {A_M1} + k * {A_M2} + 77) % 65536) - 32768 AS v
      FROM (SELECT unnest(range({N_AUDIO})) AS i),
           (SELECT unnest(range({AUDIO_SAMPLES})) AS k)
    ),
    zc AS (
      SELECT i, v, k, lag(v) OVER (PARTITION BY i ORDER BY k) AS pv
      FROM s
    )
    SELECT printf('aud%09d', i) AS audio_id,
           round({AUDIO_SAMPLES} / CAST({AUDIO_SR} AS DOUBLE), 6) AS duration_s,
           round(sqrt(sum(v * v) / CAST({AUDIO_SAMPLES} AS DOUBLE)), 6) AS rms,
           CAST(max(abs(v)) AS INTEGER) AS peak,
           CAST(sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS INTEGER)
             AS zero_crossings
    FROM zc GROUP BY i
    """


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video payload pipeline (multimodal axis): synth raw-frame containers
    -> frame-sample every 2nd frame -> per-frame mean luminance. The oracle
    recomputes each sampled frame's exact integer mean from the pixel
    formula — proving container slicing, frame decode and the sampling
    stride in one hash match."""
    from geo_epic_spark import media

    v = media.synth_video_df(spark, N_VIDEO)
    out = media.frame_sample(v, every=2)
    return out.select(
        "video_id", "frame_idx", F.round("mean_lum", 6).alias("mean_lum")
    )


def _sql_video_frames() -> str:
    from geo_epic_spark.media import V_M1, V_M2, V_M3, VIDEO_FRAMES, VIDEO_H, VIDEO_W

    npx = VIDEO_H * VIDEO_W * 3
    return f"""
    WITH px AS (
      SELECT i, ff * 2 AS f, ((i * {V_M1} + ff * 2 * {V_M2} + k * {V_M3} + 13) % 256) AS p
      FROM (SELECT unnest(range({N_VIDEO})) AS i),
           (SELECT unnest(range({VIDEO_FRAMES // 2})) AS ff),
           (SELECT unnest(range({npx})) AS k)
    )
    SELECT printf('vid%09d', i) AS video_id,
           CAST(f AS INTEGER) AS frame_idx,
           round(sum(p) / CAST({npx} AS DOUBLE), 6) AS mean_lum
    FROM px GROUP BY i, f
    """


def q_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio resample stage (8 kHz -> 6 kHz linear interpolation) through the
    real byte path: synth clips -> resample_audio -> decode -> per-clip
    sample count, exact int64 sample sum and rms. The oracle mirrors the
    interpolation arithmetic in SQL — position/floor/frac/lerp use the same
    IEEE double expressions, so even position-rounding edge cases agree
    bit-for-bit. (Ties at exactly .5 are the only rint-vs-round divergence
    and cannot occur: frac is a multiple of 1/3.)"""
    from geo_epic_spark import media

    a = media.synth_audio_df(spark, N_AUDIO)
    r = media.resample_audio(a, target_sr=6000)
    f = r.select("audio_id", "n_samples", media.audio_features("bytes", "sr").alias("f"))
    return f.select(
        "audio_id", "n_samples",
        F.round("f.rms", 6).alias("rms"),
        F.col("f.peak").alias("peak"),
    )


def _sql_audio_resample() -> str:
    from geo_epic_spark.media import A_M1, A_M2, AUDIO_SAMPLES

    n_out = int(round(AUDIO_SAMPLES * 6000 / 8000.0))
    step = "(CAST(8000 AS DOUBLE) / 6000)"
    sval = "(((i * {m1} + {k} * {m2} + 77) % 65536) - 32768)"
    s0 = sval.format(m1=A_M1, m2=A_M2, k="i0")
    s1 = sval.format(m1=A_M1, m2=A_M2, k="i1")
    return f"""
    WITH pos AS (
      SELECT i, k2, CAST(k2 AS DOUBLE) * {step} AS p
      FROM (SELECT unnest(range({N_AUDIO})) AS i),
           (SELECT unnest(range({n_out})) AS k2)
    ),
    idx AS (
      SELECT i, k2, p,
             least(greatest(CAST(floor(p) AS BIGINT), 0), {AUDIO_SAMPLES - 1}) AS i0
      FROM pos
    ),
    lerp AS (
      SELECT i, k2,
             least(i0 + 1, {AUDIO_SAMPLES - 1}) AS i1,
             i0,
             least(greatest(p - i0, 0.0), 1.0) AS frac
      FROM idx
    ),
    samp AS (
      SELECT i, k2,
             CAST(round({s0} * (1.0 - frac) + {s1} * frac) AS BIGINT) AS v
      FROM lerp
    )
    SELECT printf('aud%09d', i) AS audio_id,
           CAST({n_out} AS INTEGER) AS n_samples,
           round(sqrt(sum(v * v) / CAST({n_out} AS DOUBLE)), 6) AS rms,
           CAST(max(abs(v)) AS INTEGER) AS peak
    FROM samp GROUP BY i
    """


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (MOSS scheme) over the documents
    table: md5-60 k-gram hashes, window-min selection, distinct — pure
    Column expressions mirrored exactly by the DuckDB oracle."""
    from geo_epic_spark.operators.text import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(d, k=5, w=4)


def _sql_winnow_fingerprints() -> str:
    # DuckDB list slices are INCLUSIVE: s[i:i+4] is the 5-char gram,
    # gh[j+1:j+4] the 4-hash window
    return """
    WITH n AS (SELECT doc_id,
                      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS s
               FROM documents),
    g AS (SELECT doc_id,
                 [('0x' || substr(md5(s[i:i+4]), 1, 15))::BIGINT
                  FOR i IN range(1, greatest(len(s) - 5 + 1, 1) + 1)] AS gh
          FROM n),
    f AS (SELECT doc_id,
                 unnest(list_distinct([list_min(gh[j+1:j+4])
                  FOR j IN range(0, greatest(len(gh) - 4, 0) + 1)])) AS fingerprint
          FROM g)
    SELECT doc_id, fingerprint FROM f
    """


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup pipeline completion: near-dup PAIRS -> CLUSTERS (connected
    components via large-star/small-star contraction) -> every doc labeled
    with the smallest reachable doc_id (singletons label themselves;
    canonical keep = cluster_id == doc_id). Oracle = transitive closure as
    a DuckDB recursive CTE over the exact Jaccard pair set (== the LSH pair
    set on this corpus, proven by q_minhash_lsh)."""
    from geo_epic_spark.operators.dedup import cluster_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, threshold=0.125, num_hashes=64, bands=32,
                              partitions=32)
    return cluster_pairs(d, pairs)


def _sql_dedup_clusters() -> str:
    return """
    WITH RECURSIVE sh AS (
      SELECT doc_id, unnest(list_distinct([
        array_to_string(words[i:i+2], ' ')
        FOR i IN range(1, greatest(len(words) - 2, 1) + 1)
      ])) AS shingle
      FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM documents)
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT s.id_a, s.id_b FROM shared s
      JOIN sizes sa ON s.id_a = sa.doc_id
      JOIN sizes sb ON s.id_b = sb.doc_id
      WHERE s.inter * 1.0 / (sa.sz + sb.sz - s.inter) >= 0.125
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    """


N_OPC_EDIT = 8


def q_edit_crop_season(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Season re-anchoring (`io/opc.py:431-498` edit_crop_season parity):
    per-site schedules re-anchored to shifted plant/harvest dates — anchors
    exact, middle ops stretched with int truncation, pre/post ops keeping
    their day offsets. The oracle derives every output date independently
    from the generator arithmetic."""
    from geo_epic_spark.operators.timeseries import edit_crop_season

    t = F.col("id")
    site = (t / 6).cast("long")
    pos = (t % 6 + 1).cast("int")
    base = F.to_date(F.lit("2020-04-01"))
    old_plant = F.date_add(base, (site % 10).cast("int") + 9)  # Apr 10 + site%10
    old_harv = F.date_add(old_plant, (site % 13).cast("int") + 140)
    date = (
        F.when(pos == 1, F.date_sub(old_plant, (site % 4).cast("int") + 3))
        .when(pos == 2, old_plant)
        .when(pos == 3, F.date_add(old_plant, (site % 7).cast("int") + 20))
        .when(pos == 4, F.date_add(old_plant, (site % 11).cast("int") + 80))
        .when(pos == 5, old_harv)
        .otherwise(F.date_add(old_harv, (site % 3).cast("int") + 2))
    )
    code = (
        F.when(pos == 1, 10).when(pos == 2, 2).when(pos == 3, 100)
        .when(pos == 4, 110).when(pos == 5, 650).otherwise(120)
    ).cast("int")
    ops = spark.range(N_OPC_EDIT * 6).select(
        site.alias("site_id"), F.lit(2).alias("CRP"), pos.alias("pos"),
        date.alias("date"), code.alias("CODE"),
    )
    sd = F.col("id").cast("long")
    nd = spark.range(N_OPC_EDIT).select(
        sd.alias("site_id"), F.lit(2).alias("CRP"),
        F.date_add(F.date_add(F.to_date(F.lit("2020-04-01")), (sd % 10).cast("int") + 9),
                   (sd % 5).cast("int") - 2).alias("new_plant"),
        F.date_add(F.date_add(F.date_add(F.to_date(F.lit("2020-04-01")), (sd % 10).cast("int") + 9),
                              (sd % 13).cast("int") + 140),
                   (sd % 7).cast("int") - 3).alias("new_harv"),
    )
    out = edit_crop_season(ops, nd, by=["site_id"])
    return out.select(
        "site_id", "pos", F.date_format("date", "yyyy-MM-dd").alias("op_date"),
        "Mn", "Dy",
    )


def _sql_edit_crop_season() -> str:
    # independent derivation: per pos, the adjusted date in closed form
    # (old span = 140 + s%13; new span = old span + (s%7-3) - (s%5-2))
    return f"""
    WITH g AS (
      SELECT (t // 6) AS s, (t % 6 + 1) AS pos
      FROM (SELECT unnest(range({N_OPC_EDIT * 6})) AS t)
    ),
    d AS (
      SELECT s, pos,
             DATE '2020-04-01' + INTERVAL ((s % 10) + 9) DAY AS op_,
             (s % 13) + 140 AS span_old,
             (s % 5) - 2 AS dp,
             (s % 7) - 3 AS dh
      FROM g
    ),
    e AS (
      SELECT s, pos, op_,
             op_ + to_days(CAST(span_old AS INTEGER)) AS oh_,
             op_ + to_days(CAST(dp AS INTEGER)) AS np_,
             op_ + to_days(CAST(span_old + dh AS INTEGER)) AS nh_,
             span_old, span_old + dh - dp AS span_new
      FROM d
    ),
    r AS (
      SELECT s, pos,
             CASE pos
               WHEN 1 THEN np_ - to_days(CAST((s % 4) + 3 AS INTEGER))
               WHEN 2 THEN np_
               WHEN 3 THEN np_ + to_days(CAST(floor(((s % 7) + 20) * span_new / span_old) AS INTEGER))
               WHEN 4 THEN np_ + to_days(CAST(floor(((s % 11) + 80) * span_new / span_old) AS INTEGER))
               WHEN 5 THEN nh_
               ELSE nh_ + to_days(CAST((s % 3) + 2 AS INTEGER))
             END AS nd
      FROM e
    )
    SELECT CAST(s AS BIGINT) AS site_id, CAST(pos AS INTEGER) AS pos,
           strftime(nd, '%Y-%m-%d') AS op_date,
           CAST(month(nd) AS INTEGER) AS Mn, CAST(day(nd) AS INTEGER) AS Dy
    FROM r
    """


def q_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation over the events table — the
    batch twin of streaming.windowed_event_counts (same `window()` bucketing
    construct) plus §2.7 JSON extraction (`get_json_object` on the props
    payload, the engine analog of `io/data_logger.py:235-246` /
    `weather/nldas_ws_gee.py:102-103`)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.round(
                F.avg(F.get_json_object("props", "$.k").cast("double")), 6
            ).alias("avg_k"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type", "n", "sum_value", "avg_k",
        )
    )


def _sql_windowed_events() -> str:
    return """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           count(*) AS n,
           round(sum(value), 6) AS sum_value,
           round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS avg_k
    FROM events GROUP BY 1, 2
    """


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join (region -> nation -> customer -> orders ->
    lineitem -> supplier, with the local-supplier c_nationkey = s_nationkey
    constraint): dims broadcast onto the single fact-fact join, revenue per
    nation within a region/year slice. Exercises the multi-dim join chain a
    100 TB warehouse runs constantly — Catalyst broadcasts every dim, and
    only lineitem x orders shuffles."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        j.groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select("n_name", "revenue", "n_items")
    )


def _sql_local_supplier_volume() -> str:
    return """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND c_nationkey = s_nationkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """


def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-dimension rollup (Q14 flavor): revenue and quantity by p_brand
    for a ship-date year — broadcast part onto lineitem, one partial-agg
    groupBy."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    pt = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.sum("l_quantity").alias("qty"),
        )
        .select("p_brand", "revenue", F.round("qty", 2).alias("qty"))
    )


def _sql_brand_revenue() -> str:
    return """
    SELECT p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY p_brand
    """


def q_bbox_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Axis-aligned containment join (P6 bbox clip, `utils/crop_csb.py:23-35`):
    image centers vs per-field bounding boxes via the codegen four-compare
    bbox_join (~10x the ray-cast per candidate; half-open edges so adjacent
    boxes never double-count). Oracle = the plain containment predicate."""
    from geo_epic_spark.operators.spatial import bbox_join

    pts = synth.images_meta_df(spark, 4000).select("i", "cx", "cy")
    boxes = synth.fields_df(spark, 150).select(
        "poly_id",
        F.array_min("xs").alias("x0"), F.array_min("ys").alias("y0"),
        F.array_max("xs").alias("x1"), F.array_max("ys").alias("y1"),
    )
    out = bbox_join(pts, boxes, res=0.05, lon="cx", lat="cy")
    return out.select("i", "poly_id")


def _sql_bbox_clip() -> str:
    return f"""
    WITH pts AS ({synth.images_meta_sql(4000)}),
         f AS ({synth.fields_sql(150)}),
         boxes AS (
           SELECT poly_id, x0, y0, x1, y1 FROM f
         )
    SELECT p.i, b.poly_id
    FROM pts p JOIN boxes b
      ON p.cx >= b.x0 AND p.cx < b.x1 AND p.cy >= b.y0 AND p.cy < b.y1
    """


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-quality heuristic per doc (length band, alpha ratio, mean word
    length band) — pure Column arithmetic, mirrored term-for-term in SQL."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )


def _sql_quality_scores() -> str:
    return """
    WITH t AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n,
             CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
               AS n_alpha,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_words
      FROM documents
    )
    SELECT doc_id,
           round((
             CASE WHEN n BETWEEN 50 AND 5000 THEN 1.0
                  WHEN n < 50 THEN n / 50.0
                  ELSE greatest(0.0, 1.0 - (n - 5000) / 5000.0) END
             + n_alpha / greatest(n, 1.0)
             + CASE WHEN n / greatest(n_words, 1.0) BETWEEN 3 AND 12
                    THEN 1.0 ELSE 0.5 END
           ) / 3.0, 6) AS quality
    FROM t
    """


# ---------------------------------------------------------------------------
# round-3 additions (second wave): skew-salted join, semantic dedup,
# repetition signals, PII redaction
# ---------------------------------------------------------------------------

SALT_IMG, SALT_POLY, SALT_BUCKETS = 30000, 200, 8


def q_salted_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-handled tile assignment (north rule: dense-cell salting). The
    probe side is salted on the image key and the build side replicated
    across the 8 salt buckets before the cell equi-join, then the exact
    containment refine runs on the joined rows. Salting is a pure
    re-partitioning — the oracle is the plain containment join, so the
    hash-match proves output equivalence of the salted plan (the pytest twin
    test_salted_cell_join_equals_unsalted asserts it at the operator level).
    The synthetic HOT cluster (25% of polys, ~4% of the AOI) supplies real
    skew: without salting those cells' join tasks are the stragglers."""
    from geo_epic_spark.operators.spatial import add_salt, replicate_for_salt

    res = 0.05
    imgs = (
        synth.images_meta_df(spark, SALT_IMG)
        .select("i", "cx", "cy")
        .withColumn("__cell", cells.cell_id(F.col("cx"), F.col("cy"), res))
    )
    polys = synth.fields_df(spark, SALT_POLY).select(
        "poly_id", "x0", "x1", "y0", "y1",
        F.explode(cells.cover_polygon(F.col("xs"), F.col("ys"), res)).alias("__cell"),
    )
    salted_probe = add_salt(imgs, "i", SALT_BUCKETS)
    salted_build = replicate_for_salt(polys, SALT_BUCKETS)
    joined = salted_probe.join(salted_build, ["__cell", "salt"]).filter(
        (F.col("cx") >= F.col("x0")) & (F.col("cx") <= F.col("x1"))
        & (F.col("cy") >= F.col("y0")) & (F.col("cy") <= F.col("y1"))
    )
    return joined.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_images"))


def _sql_salted_pip() -> str:
    return f"""
    WITH imgs AS ({synth.images_meta_sql(SALT_IMG)}),
         polys AS ({synth.fields_sql(SALT_POLY)})
    SELECT p.poly_id AS poly_id, COUNT(*) AS n_images
    FROM imgs i JOIN polys p
      ON i.cx BETWEEN p.x0 AND p.x1 AND i.cy BETWEEN p.y0 AND p.y1
    GROUP BY 1
    """


SEMDEDUP_C = 8       # coarse clusters (first-C embeddings as centroids)
SEMDEDUP_THR = 0.99  # near-dup cosine threshold


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: coarse k-means clusters, then greedy
    within-cluster duplicate marking at cosine >= 0.99. Corpus has no
    natural near-dups, so a jittered copy of every vector is planted (same
    portable hash arithmetic as q_embedding_near_dup); the expected result
    is keep=true for every base vector and keep=false for every planted
    copy that shares its base's cluster. Centroids are the deterministic
    first-8 vectors so the DuckDB oracle reproduces the ENTIRE pipeline —
    assignment, priority order, pair predicate — not just the end state."""
    from geo_epic_spark.operators.dedup import semantic_dedup

    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    jit = v.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, k: x
            + F.lit(JIT_EPS)
            * (
                ((F.col("vec_id") * F.lit(synth.M[1]) + k * F.lit(48611) + F.lit(7919))
                 % F.lit(4294967296)) / F.lit(4294967296.0)
                - F.lit(0.5)
            ),
        ).alias("embedding"),
    ).select((F.col("vec_id") + JIT_OFF).alias("vec_id"), "embedding")
    both = v.unionByName(jit)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in v.filter(f"vec_id < {SEMDEDUP_C}").orderBy("vec_id").collect()
    ]
    out = semantic_dedup(both, cents, threshold=SEMDEDUP_THR)
    return out.select("vec_id", "cluster_id", "keep")


def _sql_semantic_dedup() -> str:
    u = f"(((e.vec_id * {synth.M[1]} + k * 48611 + 7919) % 4294967296) / 4294967296.0)"
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
               FROM embeddings),
         jit AS (
           SELECT e.vec_id + {JIT_OFF} AS vec_id,
                  list(e.embedding[k + 1] + {JIT_EPS} * ({u} - 0.5)
                       ORDER BY k) AS embedding
           FROM e, (SELECT unnest(range(64)) AS k)
           GROUP BY e.vec_id
         ),
         allv AS (SELECT * FROM e UNION ALL SELECT * FROM jit),
         c AS (SELECT vec_id AS cid, embedding AS cvec FROM e
               WHERE vec_id < {SEMDEDUP_C}),
         asg AS (
           SELECT vec_id, embedding, cid,
                  row_number() OVER (
                    PARTITION BY vec_id
                    ORDER BY list_distance(embedding, cvec), cid
                  ) AS rn
           FROM allv CROSS JOIN c
         ),
         assigned AS (SELECT vec_id, embedding, cid AS cluster_id
                      FROM asg WHERE rn = 1),
         dups AS (
           SELECT DISTINCT b.vec_id
           FROM assigned a JOIN assigned b
             ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.embedding, b.embedding)
                   / (sqrt(list_dot_product(a.embedding, a.embedding))
                      * sqrt(list_dot_product(b.embedding, b.embedding)))
                 >= {SEMDEDUP_THR}
         )
    SELECT s.vec_id, s.cluster_id, (d.vec_id IS NULL) AS keep
    FROM assigned s LEFT JOIN dups d ON s.vec_id = d.vec_id
    """


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document (top-unigram share,
    top-bigram share, duplicate-token fraction) via exploded-gram two-phase
    aggregation — the shuffle key is (doc, gram), never the text."""
    from geo_epic_spark.operators.text import repetition_report

    d = _t(spark, sf_dir, "documents")
    return repetition_report(d)


def _sql_repetition() -> str:
    return r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    uni AS (
      SELECT doc_id, w, count(*) AS c
      FROM (SELECT doc_id, unnest(t) AS w FROM toks)
      GROUP BY 1, 2
    ),
    unia AS (
      SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_uni,
             sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_toks
      FROM uni GROUP BY 1
    ),
    bit AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS b
      FROM toks
    ),
    bi AS (SELECT doc_id, b, count(*) AS c FROM bit GROUP BY 1, 2),
    bia AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bi FROM bi GROUP BY 1)
    SELECT u.doc_id AS doc_id,
           CAST(u.n_tokens AS BIGINT) AS n_tokens,
           round(u.top_uni / CAST(u.n_tokens AS DOUBLE), 6) AS top_unigram_share,
           round(coalesce(b.top_bi / CAST(b.n_bigrams AS DOUBLE), 0.0), 6)
             AS top_bigram_share,
           round(u.dup_toks / CAST(u.n_tokens AS DOUBLE), 6) AS dup_token_frac
    FROM unia u LEFT JOIN bia b ON u.doc_id = b.doc_id
    """


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministically planted spans (email
    always; phone on even ids; SSN on ids % 3 == 0) — typed placeholder
    replacement + per-doc hit counts, all JVM regexp expressions (map-only,
    zero shuffle). The oracle rebuilds the identical planted text and
    mirrors the replacement order."""
    from geo_epic_spark.operators.text import redact_pii

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 80),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit(" call 555-123-"),
                         F.format_string("%04d", (F.col("doc_id") % 10000).cast("int"))),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" id 123-45-"),
                         F.format_string("%04d", (F.col("doc_id") % 10000).cast("int"))),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return redact_pii(d)


def _sql_redact_pii() -> str:
    from geo_epic_spark.operators.text import PII_EMAIL, PII_PHONE, PII_SSN

    return f"""
    WITH planted AS (
      SELECT doc_id,
             substr(text, 1, 80)
               || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
               || CASE WHEN doc_id % 2 = 0
                       THEN ' call 555-123-' || printf('%04d', doc_id % 10000)
                       ELSE '' END
               || CASE WHEN doc_id % 3 = 0
                       THEN ' id 123-45-' || printf('%04d', doc_id % 10000)
                       ELSE '' END AS text
      FROM documents
    ),
    steps AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_emails,
             len(regexp_extract_all(text, '{PII_SSN}')) AS n_ssns,
             regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                            '{PII_SSN}', '<SSN>', 'g') AS t1
      FROM planted
    )
    SELECT doc_id,
           regexp_replace(t1, '{PII_PHONE}', '<PHONE>', 'g') AS clean_text,
           CAST(n_emails AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(t1, '{PII_PHONE}')) AS INTEGER) AS n_phones,
           CAST(n_ssns AS INTEGER) AS n_ssns
    FROM steps
    """


def q_knn_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haversine-metric nearest-grid assignment (the reference's
    `GeoInterface.lookup` BallTree-haversine path, `utils/raster_utils.py:196`)
    — k-ring expansion with the metric-aware guard bound, brute fallback for
    BallTree-exact results. Oracle = full cross-join argmin with the same
    great-circle formula in DuckDB trig."""
    pts = synth.images_meta_df(spark, 1500).select("i", "cx", "cy")
    grid = synth.grid_df(spark, GRID_NR, GRID_NC, GRID_SP)
    out = nearest_grid_join(
        pts, grid, res=GRID_SP, metric="haversine",
        point_id="i", point_lon="cx", point_lat="cy",
    )
    return out.select("i", "grid_id", F.round("nn_dist", 6).alias("nn_km"))


def _sql_knn_haversine() -> str:
    hav = (
        "2 * 6371.0088 * asin(sqrt("
        "pow(sin(radians(g.lat - p.cy) / 2), 2)"
        " + cos(radians(p.cy)) * cos(radians(g.lat))"
        " * pow(sin(radians(g.lon - p.cx) / 2), 2)))"
    )
    return f"""
    WITH pts AS ({synth.images_meta_sql(1500)}),
         grid AS ({synth.grid_sql(GRID_NR, GRID_NC, GRID_SP)}),
         d AS (
           SELECT p.i, g.grid_id, {hav} AS km,
                  row_number() OVER (
                    PARTITION BY p.i ORDER BY {hav}, g.grid_id
                  ) AS rn
           FROM pts p CROSS JOIN grid g
         )
    SELECT i, grid_id, round(km, 6) AS nn_km FROM d WHERE rn = 1
    """


def q_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow/BLAS physical path of brute-force cosine top-k (one matmul
    per batch, per-batch survivors with deterministic tie-break) — same
    logical result as q_cosine_topk, so it shares that oracle: the
    hash-match proves path equivalence."""
    from geo_epic_spark.operators.similarity import cosine_topk_arrow

    v = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in v.filter("vec_id < 5").orderBy("vec_id").collect()
    ]
    out = cosine_topk_arrow(v, q, k=5)
    return out.select("q_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine"))


def q_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState streaming path end-to-end: documents
    replayed through readStream into the first-seen-wins content dedup
    (`streaming/stateful.py`), availableNow trigger, update-mode memory
    sink. One file -> one micro-batch, so the survivor per content group is
    the global min doc_id — exactly the batch SQL the oracle runs."""
    import hashlib
    import os
    import shutil
    import uuid

    from geo_epic_spark.streaming.stateful import stateful_dedup_stream

    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:8]
    src_dir = _scratch(f"stream_src_docs_{tag}")
    link = os.path.join(src_dir, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/documents.parquet", link)
    schema = _t(spark, sf_dir, "documents").schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    surv = stateful_dedup_stream(stream, text="text", key="doc_id")
    name = "qsd_" + uuid.uuid4().hex[:8]
    ckpt = _scratch("stream_ckpt_" + name)
    q = (
        surv.writeStream.format("memory").queryName(name)
        .outputMode("update").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name).select("doc_id", F.length("text").alias("text_len"))


def _sql_stateful_dedup() -> str:
    return """
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
           CAST(length(text) AS INTEGER) AS text_len
    FROM documents
    GROUP BY text
    """


SESSION_GAP_S = 28800  # 8 h: the synthetic event stream's median gap is ~7.3 h


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING gap sessionization (`sessionize_stream`,
    applyInPandasWithState + EventTimeTimeout) over the events parquet
    replayed through readStream with an availableNow trigger. The single
    file arrives as one micro-batch, so exactly the in-data-closed sessions
    are emitted — every session except each user's final (still-open) one;
    the oracle re-derives that set with the batch window SQL at the same
    microsecond gap precision. Proves the stateful micro-batch plan agrees
    with the declarative batch plan row-for-row."""
    import hashlib
    import os
    import shutil
    import uuid

    from geo_epic_spark.streaming.stateful import sessionize_stream

    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:8]
    src_dir = _scratch(f"stream_src_events_{tag}")
    link = os.path.join(src_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    sess = sessionize_stream(
        stream, gap=f"{SESSION_GAP_S} seconds", watermark="1 hour",
        ts="ts", key="user_id",
    )
    name = "qss_" + uuid.uuid4().hex[:8]
    ckpt = _scratch("stream_ckpt_" + name)
    # availableNow appends a NO-DATA micro-batch whose advanced watermark
    # fires EventTimeTimeouts (flushing open sessions of idle users mid-
    # replay); turn it off so this replay emits exactly the in-data-closed
    # session set — the timeout path itself is exercised in
    # tests/test_streaming_stateful.py
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(nodata_key, "true")
    spark.conf.set(nodata_key, "false")
    try:
        q = (
            sess.writeStream.format("memory").queryName(name)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(nodata_key, prev)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


def _sql_stream_sessionize() -> str:
    return f"""
    WITH g AS (
      SELECT user_id, event_id, ts,
             epoch(ts) - epoch(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_S} THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_no
      FROM g
    ),
    roll AS (
      SELECT user_id, session_no,
             strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
             count(*) AS n_events
      FROM s GROUP BY 1, 2
    )
    SELECT user_id, session_start, session_end, n_events
    FROM roll
    WHERE session_no < (SELECT max(session_no) FROM roll r2
                        WHERE r2.user_id = roll.user_id)
    """


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream (classic lag + running
    sum over a per-user window): a new session starts when the gap to the
    previous event exceeds SESSION_GAP_S. Per-session rollup: bounds, event
    count, value sum. One shuffle (by user_id) feeds both windows and the
    final aggregate — partitionBy reuse, no extra exchange. The plain path
    is right here (no pathologically hot user in the stream); the 100x-hot-
    user scale path is ``operators.sessions.sessionize(method='chunked')``,
    output-equivalence-proved in tests/test_sessions.py."""
    from geo_epic_spark.operators.sessions import sessionize

    e = _t(spark, sf_dir, "events")
    sess = sessionize(
        e, user="user_id", ts="ts", tiebreak=["event_id"],
        gap_s=SESSION_GAP_S, method="plain",
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def _sql_sessionize() -> str:
    return f"""
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             epoch(ts) - epoch(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap
      FROM events
    ),
    s AS (
      SELECT user_id, event_id, ts, value,
             sum(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_S} THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_no
      FROM g
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           round(sum(value), 6) AS sum_value
    FROM s GROUP BY 1, 2
    """


CURATION_JUNK_OFF = 100_000
CURATION_DUP_OFF = 200_000


def _curation_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents + planted junk twins (doc_id%5==0: 40x-repeated token ->
    repetition/lang filters fire) + planted exact-dup twins (doc_id%7==0:
    byte-identical text -> dedup keeps the original)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    junk = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + CURATION_JUNK_OFF).alias("doc_id"),
            F.concat(
                F.repeat(F.lit("spam "), 39), F.lit("spam")
            ).alias("text"),
        )
    )
    dup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + CURATION_DUP_OFF).alias("doc_id"), "text"
    )
    return d.unionByName(junk).unionByName(dup)


def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation pipeline — the operators composed
    the way a real corpus pass runs them: exact dedup (first-seen-wins on
    the content fingerprint) -> language filter (drop 'und') -> repetition
    filter (top-unigram share <= 0.5) -> quality floor (>= 0.8). Planted
    junk/dup twins prove each stage actually drops rows. Returns the kept
    docs with their signals."""
    from geo_epic_spark.operators.text import lang_id as _lang
    from geo_epic_spark.operators.text import quality_score as _qs
    from geo_epic_spark.operators.text import repetition_report

    corpus = _curation_corpus(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    wfp = Window.partitionBy(norm).orderBy("doc_id")
    deduped = (
        corpus.withColumn("__rn", F.row_number().over(wfp))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    rep = repetition_report(corpus)  # signals computed pre-dedup, joined after
    kept = (
        deduped.join(rep, "doc_id")
        .withColumn("lang_pred", _lang(F.col("text")))
        .withColumn("quality", F.round(_qs(F.col("text")), 6))
        .filter(
            (F.col("lang_pred") != "und")
            & (F.col("top_unigram_share") <= 0.5)
            & (F.col("quality") >= 0.8)
        )
    )
    return kept.select("doc_id", "n_tokens", "lang_pred", "quality")


def _sql_curation() -> str:
    from geo_epic_spark.operators.text import STOPWORDS

    stop_rows = ", ".join(
        "('{}', [{}])".format(lg, ", ".join(f"'{w}'" for w in ws))
        for lg, ws in STOPWORDS.items()
    )
    return f"""
    WITH base AS (SELECT doc_id, text FROM documents),
    corpus AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + {CURATION_JUNK_OFF},
             repeat('spam ', 39) || 'spam'
      FROM base WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + {CURATION_DUP_OFF}, text FROM base WHERE doc_id % 7 = 0
    ),
    dd AS (
      SELECT doc_id, text,
             row_number() OVER (
               PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
               ORDER BY doc_id) AS rn
      FROM corpus
    ),
    deduped AS (SELECT doc_id, text FROM dd WHERE rn = 1),
    toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
             FROM corpus),
    uni AS (
      SELECT doc_id, w, count(*) AS c
      FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1, 2
    ),
    rep AS (SELECT doc_id, sum(c) AS n_tokens,
                   max(c) / CAST(sum(c) AS DOUBLE) AS top_share
            FROM uni GROUP BY 1),
    lh AS (
      SELECT d.doc_id, s.lang,
             len(list_distinct(list_intersect(
               string_split_regex(lower(d.text), '\\s+'), s.stop))) AS hits
      FROM deduped d CROSS JOIN (VALUES {stop_rows}) AS s(lang, stop)
    ),
    lr AS (
      SELECT doc_id, lang, hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lang DESC) AS rn
      FROM lh
    ),
    langp AS (SELECT doc_id,
                     CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred
              FROM lr WHERE rn = 1),
    qual AS (
      SELECT doc_id, round((
        CASE WHEN n BETWEEN 50 AND 5000 THEN 1.0 WHEN n < 50 THEN n / 50.0
             ELSE greatest(0.0, 1.0 - (n - 5000) / 5000.0) END
        + n_alpha / greatest(n, 1.0)
        + CASE WHEN n / greatest(n_words, 1.0) BETWEEN 3 AND 12
               THEN 1.0 ELSE 0.5 END) / 3.0, 6) AS quality
      FROM (SELECT doc_id, CAST(length(text) AS DOUBLE) AS n,
                   CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                        AS DOUBLE) AS n_alpha,
                   CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                     AS n_words
            FROM deduped)
    )
    SELECT d.doc_id, CAST(r.n_tokens AS BIGINT) AS n_tokens,
           l.lang_pred, q.quality
    FROM deduped d
    JOIN rep r ON d.doc_id = r.doc_id
    JOIN langp l ON d.doc_id = l.doc_id
    JOIN qual q ON d.doc_id = q.doc_id
    WHERE l.lang_pred <> 'und' AND r.top_share <= 0.5 AND q.quality >= 0.8
    """


# ---------------------------------------------------------------------------
# round-3 additions: source/sink kernels, resume, bucketing, CRS, streaming
# ---------------------------------------------------------------------------

def _scratch(sub: str) -> str:
    """Writable scratch under the repo root (queries must not touch paths
    outside /root/repo; unique-per-purpose subdirs keep reruns idempotent)."""
    import os

    d = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch", sub)
    os.makedirs(d, exist_ok=True)
    return d


def q_fwf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width layout kernel (S5) oracled end-to-end: derive a DLY-shaped
    frame from events via integer-hash arithmetic (2-decimal-exact values),
    format it to fixed-width lines (`format_fwf`, the reference's '%8.2f'
    sink `io/inputs.py:281-286`), then parse the lines back with the DLY
    substring/cast kernel (`io/inputs.py:213-218` widths). The oracle emits
    the derived values directly, so ANY width/alignment/trim/cast defect in
    the format->parse roundtrip hash-fails."""
    from geo_epic_spark.sources.fixedwidth import (
        DLY_LAYOUT,
        format_fwf,
        parse_fwf_lines,
    )

    e = _t(spark, sf_dir, "events").select("event_id").filter("event_id < 400")
    dly = e.select(
        (F.lit(2020) + F.pmod(F.col("event_id"), F.lit(3))).cast("int").alias("year"),
        (F.lit(1) + F.pmod(F.col("event_id") * 7, F.lit(12))).cast("int").alias("month"),
        (F.lit(1) + F.pmod(F.col("event_id") * 11, F.lit(28))).cast("int").alias("day"),
        (F.pmod(F.col("event_id") * 131, F.lit(90000)) / F.lit(100.0)).alias("srad"),
        (F.pmod(F.col("event_id") * 173, F.lit(45000)) / F.lit(100.0)).alias("tmax"),
        (F.pmod(F.col("event_id") * 197, F.lit(30000)) / F.lit(100.0)).alias("tmin"),
        (F.pmod(F.col("event_id") * 211, F.lit(25000)) / F.lit(100.0)).alias("prcp"),
        (F.pmod(F.col("event_id") * 233, F.lit(99999)) / F.lit(100.0)).alias("rh"),
        (F.pmod(F.col("event_id") * 251, F.lit(40000)) / F.lit(100.0)).alias("ws"),
    )
    return parse_fwf_lines(format_fwf(dly, DLY_LAYOUT), DLY_LAYOUT)


def _sql_fwf_roundtrip() -> str:
    return """
    SELECT CAST(2020 + event_id % 3 AS INTEGER)   AS year,
           CAST(1 + (event_id * 7) % 12 AS INTEGER)  AS month,
           CAST(1 + (event_id * 11) % 28 AS INTEGER) AS day,
           (event_id * 131) % 90000 / 100.0 AS srad,
           (event_id * 173) % 45000 / 100.0 AS tmax,
           (event_id * 197) % 30000 / 100.0 AS tmin,
           (event_id * 211) % 25000 / 100.0 AS prcp,
           (event_id * 233) % 99999 / 100.0 AS rh,
           (event_id * 251) % 40000 / 100.0 AS ws
    FROM events WHERE event_id < 400
    """


def q_crs_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRS reprojection (S2): synth lon/lat from event ids, project to BOTH
    EPSG:3857 Web Mercator and EPSG:5070 CONUS Albers with the Arrow-batched
    Snyder kernels (`functions/crs.py`, mirroring the reference's pyproj
    transforms `utils/raster_utils.py:117-123`). The oracle recomputes the
    published closed-form formulas in DuckDB SQL — plain trig, no library."""
    from geo_epic_spark.functions.crs import transform

    e = _t(spark, sf_dir, "events").filter("event_id < 2000").select(
        "event_id",
        (F.lit(-124.0) + F.pmod(F.col("event_id") * 59, F.lit(10000)) / F.lit(10000.0) * 56.0).alias("lon"),
        (F.lit(25.0) + F.pmod(F.col("event_id") * 83, F.lit(10000)) / F.lit(10000.0) * 23.0).alias("lat"),
    )
    m = transform(e, "epsg:4326", "epsg:3857", out_x="mx", out_y="my")
    a = transform(m, "epsg:4326", "epsg:5070", out_x="ax", out_y="ay")
    return a.select(
        "event_id",
        F.round("mx", 5).alias("mx"), F.round("my", 5).alias("my"),
        F.round("ax", 5).alias("ax"), F.round("ay", 5).alias("ay"),
    )


def _sql_crs_project() -> str:
    from geo_epic_spark.functions import crs

    # Albers constants inlined at full double precision from the module
    a_, e_, e2 = repr(float(crs._A)), repr(float(crs._E)), repr(float(crs._E2))
    n_, c_, rho0 = repr(float(crs._N)), repr(float(crs._C)), repr(float(crs._RHO0))
    lon0 = repr(float(crs._LON0))
    return f"""
    WITH pts AS (
      SELECT event_id,
             -124.0 + (event_id * 59) % 10000 / 10000.0 * 56.0 AS lon,
             25.0 + (event_id * 83) % 10000 / 10000.0 * 23.0 AS lat
      FROM events WHERE event_id < 2000
    ),
    alb AS (
      SELECT event_id, lon, lat,
             (1 - {e2}) * (sin(radians(lat)) / (1 - {e2} * sin(radians(lat)) * sin(radians(lat)))
               - (1.0 / (2 * {e_})) * ln((1 - {e_} * sin(radians(lat)))
                                         / (1 + {e_} * sin(radians(lat))))) AS q
      FROM pts
    )
    SELECT event_id,
           round(6378137.0 * radians(lon), 5) AS mx,
           round(6378137.0 * ln(tan(pi() / 4 + radians(lat) / 2)), 5) AS my,
           round({a_} * sqrt({c_} - {n_} * q) / {n_}
                 * sin({n_} * (radians(lon) - {lon0})), 5) AS ax,
           round({rho0} - {a_} * sqrt({c_} - {n_} * q) / {n_}
                 * cos({n_} * (radians(lon) - {lon0})), 5) AS ay
    FROM alb
    """


def q_resume_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resumable-run skip-existing semantics (S9/P3): logical partitions are
    user_id % 16; a manifest written to scratch marks the even partitions
    complete; ``pending_partitions`` (the `LEFT ANTI` against the manifest,
    the engine analog of the reference's file-existence resume scan
    `sites/generate.py:97-98`) must return exactly the odd ones that carry
    work. Exercises the real manifest read->anti-join path including the
    parquet manifest IO."""
    from geo_epic_spark.operators.resume import pending_partitions

    work = _t(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(16)).alias("part")
    )
    mpath = _scratch("resume_manifest")
    spark.createDataFrame(
        [(str(p), 10, 10, 0, "r3fixed") for p in range(0, 16, 2)],
        "partition_id string, rows_in long, rows_out long, checksum long, run_id string",
    ).coalesce(1).write.mode("overwrite").parquet(mpath)
    pend = pending_partitions(spark, work, "part", mpath)
    return pend.select(F.col("part").cast("int").alias("pending_partition"))


def _sql_resume_pending() -> str:
    # manifest completed = even partitions; pending = distinct odd ones
    return """
    SELECT DISTINCT CAST(user_id % 16 AS INTEGER) AS pending_partition
    FROM events WHERE (user_id % 16) % 2 = 1
    """


def q_resume_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 append sink driven end-to-end: ``run_with_resume`` over events
    split into 8 logical partitions, manifest pre-seeded with partitions
    0-1 complete. The run processes only the pending 2-7 (anti-join),
    writes them with dynamic partition overwrite, captures observe()
    metrics in-flight, and appends per-partition lineage rows — the
    reference's skip-existing fan-out + DataLogger
    (`sites/generate.py:97-98`, `io/data_logger.py:298-380`). Returns this
    run's manifest (partition_id, rows_in, rows_out); the xxhash64 content
    checksum column is engine-specific and excluded from the oracle."""
    import shutil

    from geo_epic_spark.operators.resume import run_with_resume

    work = _t(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(8)).alias("part"), "event_id", "value"
    )
    mpath = _scratch("resume_metrics/manifest")
    opath = _scratch("resume_metrics/out")
    shutil.rmtree(mpath, ignore_errors=True)
    spark.createDataFrame(
        [(str(p), 0, 0, 0, "seed") for p in (0, 1)],
        "partition_id string, rows_in long, rows_out long, checksum long, run_id string",
    ).coalesce(1).write.mode("overwrite").parquet(mpath)
    run_with_resume(
        spark, work, "part",
        lambda df: df.filter(F.col("value") > 2.5),
        opath, mpath, run_id="r3metrics",
    )
    man = spark.read.parquet(mpath).filter(F.col("run_id") == "r3metrics")
    return man.select("partition_id", "rows_in", "rows_out")


def _sql_resume_metrics() -> str:
    return """
    SELECT CAST(user_id % 8 AS VARCHAR) AS partition_id,
           CAST(count(*) AS BIGINT) AS rows_in,
           CAST(sum(CASE WHEN value > 2.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS rows_out
    FROM events
    WHERE (user_id % 8) >= 2
    GROUP BY 1
    """


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact⋈fact join (sources/bucketing.py): both
    sides written ``bucketBy(8, orderkey)`` once, then joined sort-merge
    with ZERO shuffle Exchange — pinned by an in-query plan assertion, so a
    regression fails the driver row rather than silently re-shuffling.
    This is the write-once/join-many layout for the site⋈weather and
    site⋈soil fact joins at 100 TB."""
    from geo_epic_spark.plans.checks import formatted_plan
    from geo_epic_spark.sources.bucketing import read_table, write_bucketed

    import shutil
    from urllib.parse import urlparse

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    # the in-memory catalog is per-session but the warehouse DIRECTORY is
    # not: a location left by a previous session blocks saveAsTable even in
    # overwrite mode, so clear both catalog entry and location first
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for tbl in ("geb_lineitem_b", "geb_orders_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
    write_bucketed(li, "geb_lineitem_b", "orderkey", buckets=8)
    write_bucketed(o, "geb_orders_b", "orderkey", buckets=8)
    j = read_table(spark, "geb_lineitem_b").hint("merge").join(
        read_table(spark, "geb_orders_b"), on="orderkey"
    )
    plan = formatted_plan(j)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, (
        "bucketed join must not shuffle:\n" + plan
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _sql_bucketed_join() -> str:
    return """
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """


N_LAYER_COLS = 24


def q_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 GDB column-pruned layer scan (`geoEpic/utils/misc.py:9-41`
    read_gdb_layer(gdb, layer, columns, names) — columns selected by INDEX
    and renamed): a 24-column layer fixture is written once to scratch;
    ``sources.tables.read_layer`` reads indexes (1, 5, 7) under new names,
    and the in-query assertion pins that the parquet ReadSchema contains
    ONLY those three columns — a scan that materializes the wide layer
    fails the row rather than silently reading 8x the bytes."""
    from geo_epic_spark.plans.checks import read_schemas
    from geo_epic_spark.sources.tables import read_layer

    wide = _t(spark, sf_dir, "part").select(
        "p_partkey",
        *[
            (F.col("p_partkey") * (i + 1)).alias(f"c{i:02d}")
            for i in range(1, N_LAYER_COLS)
        ],
    )
    path = _scratch("layer_fixture")
    wide.write.mode("overwrite").parquet(path)
    out = read_layer(spark, path, [1, 5, 7], ["hzdepb", "om", "ksat"])
    schemas = read_schemas(out)
    assert schemas and all(
        ("c01" in s and "c05" in s and "c07" in s and "c02" not in s
         and "p_partkey" not in s)
        for s in schemas
    ), f"layer scan not pruned: {schemas}"
    return out


_SQL_PRUNED_SCAN = """
SELECT CAST(p_partkey * 2 AS BIGINT) AS hzdepb,
       CAST(p_partkey * 6 AS BIGINT) AS om,
       CAST(p_partkey * 8 AS BIGINT) AS ksat
FROM part
"""


def q_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING execution path itself (r2 VERDICT item 10 — not the
    batch twin): the events parquet replayed through ``readStream`` into the
    watermarked tumbling-window aggregate (`streaming/stateful.py`), driven
    by an availableNow trigger into a memory sink, checkpointed to scratch.
    The oracle is the equivalent batch SQL — proving the micro-batched
    stateful plan and the batch plan agree row-for-row."""
    import shutil
    import uuid

    from geo_epic_spark.streaming.stateful import windowed_event_counts

    import hashlib
    import os

    # the streaming file source requires a DIRECTORY; the test tables are
    # single parquet files — stage a symlink dir keyed by sf_dir
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:8]
    src_dir = _scratch(f"stream_src_events_{tag}")
    link = os.path.join(src_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        # parquet infers TIMESTAMP_NTZ; event-time watermarks need TIMESTAMP
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = windowed_event_counts(
        stream, window_len="1 hour", watermark="2 hours", ts="ts", key="event_type"
    )
    name = "qsw_" + uuid.uuid4().hex[:8]
    ckpt = _scratch("stream_ckpt_" + name)
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name).select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


def _sql_stream_windowed() -> str:
    return """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-pipeline source mixing):
    per-source keep rates over a reproducible key hash — the keep set is a
    pure function of (doc_id, salt), independent of partitioning and cluster
    size, so resumed/retried jobs select identical rows. Map-only filter;
    the oracle reproduces the two-round Lehmer hash digit-for-digit."""
    from geo_epic_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
    return stratified_sample(
        docs, "doc_id", "source", rates, default_rate=0.1, salt=7
    ).select("doc_id", "source", "n_chars")


def _sql_stratified_sample() -> str:
    return """
    WITH h AS (
      SELECT doc_id, source, n_chars,
             ((((doc_id % 1000003) + 7) * 2654435761) % 2147483647
              * 48271) % 2147483647 AS hv
      FROM documents
    )
    SELECT doc_id, source, n_chars FROM h
    WHERE hv / 2147483647.0 < CASE source WHEN 'src0' THEN 1.0
                                          WHEN 'src1' THEN 0.5
                                          WHEN 'src2' THEN 0.25
                                          ELSE 0.1 END
    """


def q_shard_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sharding via the DISTRIBUTED prefix scan
    (``method='ranged'``: repartitionByRange + per-partition mapInPandas
    prefix sums + tiny broadcast offsets — the 100 TB layout path), after
    scattering the input across 16 unordered partitions so the oracle (one
    global running-sum window) proves the two-phase scan reconstructs the
    exact global order."""
    from geo_epic_spark.operators.sampling import shard_by_token_budget
    from geo_epic_spark.operators.text import token_count

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))
        .repartition(16)
    )
    return shard_by_token_budget(
        docs, "doc_id", "n_tokens", budget=2000, method="ranged"
    ).select("doc_id", "n_tokens", "shard_id")


def _sql_shard_tokens() -> str:
    return """
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / 2000) AS BIGINT) AS shard_id
    FROM toks
    """


def q_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit sequence packing per source (token-budget bins for training
    batches): inherently sequential per group, one applyInPandas pass; the
    oracle is a DuckDB recursive CTE walking the same order — every bin
    boundary must agree exactly."""
    from geo_epic_spark.operators.sampling import pack_greedy
    from geo_epic_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_greedy(docs, "source", "doc_id", "n_tokens", budget=500).select(
        "doc_id", "source", "n_tokens", "bin_id"
    )


def _sql_pack_greedy() -> str:
    return """
    WITH RECURSIVE toks AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed AS (
      SELECT doc_id, source, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin_id, n_tokens AS bin_sum
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.source, t.n_tokens, t.rn,
             CASE WHEN p.bin_sum + t.n_tokens > 500 THEN p.bin_id + 1
                  ELSE p.bin_id END,
             CASE WHEN p.bin_sum + t.n_tokens > 500 THEN t.n_tokens
                  ELSE p.bin_sum + t.n_tokens END
      FROM toks t JOIN packed p ON t.source = p.source AND t.rn = p.rn + 1
    )
    SELECT doc_id, source, n_tokens, bin_id FROM packed
    """


def q_vocab_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocab builder: global top-20 word bigrams with deterministic
    (count DESC, gram ASC) tie-break — map-only gram expansion, two-phase
    hash aggregate, TakeOrdered top-k (no global sort materialization)."""
    from geo_epic_spark.operators.text import top_ngrams

    return top_ngrams(_t(spark, sf_dir, "documents"), n=2, k=20)


def _sql_vocab_bigrams() -> str:
    return """
    WITH ws AS (
      SELECT list_filter(string_split(lower(regexp_replace(text,
               '[^A-Za-z0-9]+', ' ', 'g')), ' '), w -> w <> '') AS w
      FROM documents
    ), grams AS (
      SELECT array_to_string(w[i:i+1], ' ') AS gram
      FROM ws, unnest(CASE WHEN len(w) >= 2 THEN range(1, len(w)) ELSE [] END) AS t(i)
    )
    SELECT gram, CAST(count(*) AS BIGINT) AS cnt
    FROM grams GROUP BY gram ORDER BY cnt DESC, gram ASC LIMIT 20
    """


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column (4x
    vector shrink before ANN indexing) — map-only Column transforms, with
    explicit floor(x+0.5) rounding so both engines produce identical ints;
    output exploded to scalars for the value-hash compare."""
    from geo_epic_spark.operators.similarity import quantize_embeddings

    q = quantize_embeddings(
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    )
    return q.select(
        "vec_id", F.posexplode("q").alias("pos0", "q_val"), "scale"
    ).select(
        "vec_id", (F.col("pos0") + 1).cast("int").alias("pos"), "q_val", "scale"
    )


def _sql_quantize_embeddings() -> str:
    return """
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 200
    ), scaled AS (
      SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM base
    )
    SELECT vec_id, CAST(pos AS INT) AS pos,
           CAST(floor(v[pos] * (CASE WHEN amax > 0 THEN 127.0/amax ELSE 0.0 END)
                + 0.5) AS INT) AS q_val,
           CASE WHEN amax > 0 THEN amax/127.0 ELSE 0.0 END AS scale
    FROM scaled, unnest(generate_series(1, len(v))) AS t(pos)
    """


def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate pairs (hamming <= 4) via pigeonhole
    banding (`hamming_near_dup_pairs`): 5 bit-bands, banded equi-join,
    popcount verify — the web-scale image-dedup generalization of
    q_phash_dedup's exact grouping. The hashes here are SQL-computable
    synthetic 64-bit values with planted 1-2-bit-flipped copies, so the
    oracle is the BRUTE-FORCE all-pairs hamming join — a hash match proves
    the banding loses no pair (recall exactly 1.0). Integration with real
    payload phashes is pinned in tests/test_dedup_text.py."""
    from geo_epic_spark.operators.dedup import hamming_near_dup_pairs

    e = _t(spark, sf_dir, "events").select("event_id").filter("event_id < 300")
    i = F.col("event_id")
    h = (
        F.pmod(i * F.lit(2654435761) + F.lit(17), F.lit(2147483648))
        * F.lit(4294967296)
        + F.pmod(i * F.lit(2246822519) + F.lit(101), F.lit(4294967296))
    )
    base = e.select(i.alias("img_id"), h.alias("phash"))
    mask = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(pmod(event_id * 7, 63) AS INT))"
        " | shiftleft(CAST(1 AS BIGINT), CAST(pmod(event_id * 13, 63) AS INT))"
    )
    copies = e.filter("event_id < 60").select(
        (i + F.lit(300)).alias("img_id"), h.bitwiseXOR(mask).alias("phash")
    )
    pairs = hamming_near_dup_pairs(
        base.unionAll(copies), key="img_id", hash_col="phash", max_hamming=4
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _sql_phash_near_dup() -> str:
    return """
    WITH base AS (
      SELECT event_id AS img_id,
             (event_id * 2654435761 + 17) % 2147483648 * 4294967296
             + (event_id * 2246822519 + 101) % 4294967296 AS phash,
             event_id AS i
      FROM events WHERE event_id < 300
    ),
    copies AS (
      SELECT i + 300 AS img_id,
             xor(phash, (CAST(1 AS BIGINT) << CAST((i * 7) % 63 AS INT))
                      | (CAST(1 AS BIGINT) << CAST((i * 13) % 63 AS INT)))
               AS phash
      FROM base WHERE i < 60
    ),
    allh AS (
      SELECT img_id, phash FROM base
      UNION ALL SELECT img_id, phash FROM copies
    )
    SELECT a.img_id AS id_a, b.img_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM allh a JOIN allh b ON a.img_id < b.img_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 4
    """


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (`contamination_report`): flag corpus docs
    sharing word n-grams with an eval set (n=5 here so the synthetic corpus
    has hits; production default is the GPT-3 13-gram rule). The benchmark
    side broadcasts (eval sets are tiny next to the corpus) — map-side
    semi-join, the corpus never shuffles for the membership test."""
    from geo_epic_spark.operators.text import contamination_report

    d = _t(spark, sf_dir, "documents").filter("doc_id < 400")
    bench = d.filter("doc_id % 7 = 3").select("text")
    return contamination_report(d, bench, n=5).select(
        "doc_id", "n_grams", "n_contaminated", "contaminated"
    )


def _sql_decontaminate() -> str:
    return """
    WITH words AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS w
      FROM documents WHERE doc_id < 400
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct([
        array_to_string(w[i:i+4], ' ')
        FOR i IN range(1, greatest(len(w) - 4, 1) + 1)
      ])) AS shingle
      FROM words
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 7 = 3),
    totals AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY 1),
    hits AS (
      SELECT s.doc_id, count(*) AS n_contaminated
      FROM sh s JOIN bench b USING (shingle) GROUP BY 1
    )
    SELECT t.doc_id, t.n_grams,
           coalesce(h.n_contaminated, 0) AS n_contaminated,
           CAST(coalesce(h.n_contaminated, 0) > 0 AS INTEGER) AS contaminated
    FROM totals t LEFT JOIN hits h USING (doc_id)
    """


# ---------------------------------------------------------------------------
# federated scans (S6/S7/S8) — partitioned remote reads over injectable
# transports; the synthetic transports are deterministic servers whose data
# the oracle SQL reproduces exactly (see sources/federated.py docstring)
# ---------------------------------------------------------------------------

_SDA_SQL_TEMPLATE = """
SELECT c.mukey, c.cokey, c.comppct_r, h.desgnvert, h.hzdepb_r,
       h.wthirdbar_r, h.om_r, h.ksat_r
FROM component c JOIN chorizon h ON c.cokey = h.cokey
WHERE c.compname <> 'comp4' AND h.wthirdbar_r > 0
  AND c.mukey >= {lo} AND c.mukey < {hi}
"""

_SDA_SCHEMA = ("mukey bigint, cokey bigint, comppct_r double, desgnvert int, "
               "hzdepb_r double, wthirdbar_r double, om_r double, ksat_r double")


def q_sda_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 REST/SQL federated scan (`geoEpic/soil/sda.py:8-46`), Spark-first:
    the mukey key range is split into 8 JDBC-style shards, each executor
    task POSTs its bounded WHERE-pushed query and parses the all-string
    JSON+COLUMNNAME response (the reference's component⋈chorizon pull with
    its `wthirdbar_r > 0` predicate, `soil/sda.py:147-163`). The synthetic
    server runs DuckDB over the same fixture SQL the oracle uses, so the
    pushdown, wire format and string→numeric cast path are all live."""
    from geo_epic_spark.sources.federated import (
        SyntheticSDATransport,
        read_sda,
    )

    return read_sda(
        spark,
        _SDA_SQL_TEMPLATE,
        schema=_SDA_SCHEMA,
        partition_column="mukey",
        lower=100000,
        upper=100040,
        num_partitions=8,
        transport=SyntheticSDATransport(n_mukeys=40, comps_per=3,
                                        layers_per=6),
    )


def _sql_sda_scan() -> str:
    from geo_epic_spark.synth import soil_components_sql, soil_layers_sql

    body = _SDA_SQL_TEMPLATE.format(lo=100000, hi=100040)
    return f"""
    WITH component AS ({soil_components_sql(40, 3)}),
         chorizon AS ({soil_layers_sql(120, 6)})
    {body}
    """


def q_opendap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 OPeNDAP array scan (`geoEpic/weather/gridmet.py:39-50`,
    `weather/nldas_ws.py:65-74`), Spark-first: points snap to their nearest
    grid cell with plain Column arithmetic (the `xr.sel(method='nearest')`
    analog), then each (point × 50-day chunk × variable) slice request is
    fetched executor-side — map-only fan-out, bounded requests, the shape a
    1000-executor cluster should use against a THREDDS farm. Values round(2)
    like the reference's `df.round(2)`."""
    from geo_epic_spark.sources.federated import (
        SyntheticOpendapTransport,
        opendap_grid,
        read_opendap,
    )

    grid = opendap_grid(lat0=25.0, lon0=-125.0, step=0.125,
                        nlat=224, nlon=464, t0="1979-01-01")
    e = _t(spark, sf_dir, "events").filter("event_id < 12")
    pts = e.select(
        F.col("event_id").alias("point_id"),
        (F.lit(25.0) + F.pmod(F.col("event_id") * 83, F.lit(10000))
         / F.lit(10000.0) * 27.9).alias("lat"),
        (F.lit(-125.0) + F.pmod(F.col("event_id") * 59, F.lit(10000))
         / F.lit(10000.0) * 57.9).alias("lon"),
    )
    return read_opendap(
        spark, grid, pts, ["ws", "tmax"], start_day=365, n_days=120,
        transport=SyntheticOpendapTransport(n_days_total=4096),
        chunk_days=50,
    )


def _sql_opendap_scan() -> str:
    from geo_epic_spark.sources.federated import opendap_value_sql

    ws = opendap_value_sql("ws", "cell", "t", 4096)
    tmax = opendap_value_sql("tmax", "cell", "t", 4096)
    return f"""
    WITH pts AS (
      SELECT event_id AS point_id,
             25.0 + (event_id * 83) % 10000 / 10000.0 * 27.9 AS lat,
             -125.0 + (event_id * 59) % 10000 / 10000.0 * 57.9 AS lon
      FROM events WHERE event_id < 12
    ),
    snapped AS (
      SELECT point_id,
             GREATEST(0, LEAST(223,
               CAST(FLOOR((lat - 25.0) / 0.125 + 0.5) AS BIGINT))) AS lat_idx,
             GREATEST(0, LEAST(463,
               CAST(FLOOR((lon - -125.0) / 0.125 + 0.5) AS BIGINT))) AS lon_idx
      FROM pts
    ),
    days AS (SELECT 365 + CAST(range AS BIGINT) AS t FROM range(120))
    SELECT point_id, t AS day_idx,
           round({ws}, 2) AS ws,
           round({tmax}, 2) AS tmax
    FROM (SELECT point_id, lat_idx * 464 + lon_idx AS cell FROM snapped)
    CROSS JOIN days
    """


_GEE_COLLECTION = {
    "id": "SYN/SR_DAILY",
    "cadence": 2,
    "bands": ["red", "nir"],
    # image.expression analogs (`gee/core.py:50-61`): one derived index,
    # one raw band passthrough
    "variables": {
        "ndvi": "(nir - red) / (nir + red + 1.0)",
        "nir_raw": "nir",
    },
}

_GEE_AOI = {"lon_lo": -99.1, "lon_hi": -98.6, "lat_lo": 40.4, "lat_hi": 40.8}


def q_gee_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 GEE collection scan (`geoEpic/gee/core.py:18-48,122-155`),
    Spark-first: the filterDate window splits into day-chunks (one shard
    per chunk), each executor task ships the whole server-side program —
    filterBounds + filterDate + band expressions + per-image
    reduceRegion(mode) — and receives only the reduced (day, var...)
    features. The synthetic server evaluates the same formulas over a
    deterministic pixel lattice; the oracle reproduces pixel values,
    formulas and the mode reduction (ties → smallest) in SQL."""
    from geo_epic_spark.sources.federated import (
        SyntheticGEETransport,
        read_gee_collection,
    )

    return read_gee_collection(
        spark, _GEE_COLLECTION, _GEE_AOI, date_lo=100, date_hi=196,
        transport=SyntheticGEETransport(), chunk_days=16,
    )


def _sql_gee_scan() -> str:
    # pixel-lattice constants from SyntheticGEETransport: lat0=40, lon0=-100,
    # step=0.05, 200 px per lattice row; bbox covers pixels whose CENTER lies
    # inside (ceil/floor of (bound-origin)/step - 0.5)
    return """
    WITH days AS (
      SELECT 100 + CAST(range AS BIGINT) AS day FROM range(96)
      WHERE (100 + range) % 2 = 0
    ),
    pxs AS (
      SELECT CAST(range AS BIGINT)
             + CAST(CEIL((-99.1 - -100.0) / 0.05 - 0.5) AS BIGINT) AS px
      FROM range(CAST(FLOOR((-98.6 - -100.0) / 0.05 - 0.5) AS BIGINT)
                 - CAST(CEIL((-99.1 - -100.0) / 0.05 - 0.5) AS BIGINT) + 1)
    ),
    pys AS (
      SELECT CAST(range AS BIGINT)
             + CAST(CEIL((40.4 - 40.0) / 0.05 - 0.5) AS BIGINT) AS py
      FROM range(CAST(FLOOR((40.8 - 40.0) / 0.05 - 0.5) AS BIGINT)
                 - CAST(CEIL((40.4 - 40.0) / 0.05 - 0.5) AS BIGINT) + 1)
    ),
    pix AS (SELECT py * 200 + px AS pid FROM pys CROSS JOIN pxs),
    bands AS (
      SELECT day, pid,
             ((pid * 2654435761 + day * 40503 + 0 * 977) % 9) * 0.25 AS red,
             ((pid * 2654435761 + day * 40503 + 1 * 977) % 9) * 0.25 AS nir
      FROM days CROSS JOIN pix
    ),
    vars AS (
      SELECT day, (nir - red) / (nir + red + 1.0) AS ndvi, nir AS nir_raw
      FROM bands
    ),
    mode_ndvi AS (
      SELECT day, ndvi FROM (
        SELECT day, ndvi,
               row_number() OVER (PARTITION BY day
                                  ORDER BY count(*) DESC, ndvi ASC) AS rn
        FROM vars GROUP BY day, ndvi
      ) WHERE rn = 1
    ),
    mode_nir AS (
      SELECT day, nir_raw FROM (
        SELECT day, nir_raw,
               row_number() OVER (PARTITION BY day
                                  ORDER BY count(*) DESC, nir_raw ASC) AS rn
        FROM vars GROUP BY day, nir_raw
      ) WHERE rn = 1
    )
    SELECT a.day AS day, a.ndvi AS ndvi, b.nir_raw AS nir_raw
    FROM mode_ndvi a JOIN mode_nir b ON a.day = b.day
    """


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal (`remove_boilerplate_lines`):
    drop every line occurring verbatim in > max_docs distinct documents and
    reassemble the survivors in order. The synthetic docs are single-line, so
    the corpus plants a three-line layout — a per-source header (boilerplate:
    one per ~25+ docs), a unique body line, and a footer that is shared
    chrome for doc_id % 4 == 0 and unique otherwise — proving both removal
    kinds and the all-lines-survive reassembly in one pass. Line-frequency
    agg + broadcast anti-join + per-doc regroup; no window, no global sort."""
    from geo_epic_spark.operators.text import remove_boilerplate_lines

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    did = F.col("doc_id").cast("string")
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.lit("HDR-"), F.col("source"), F.lit("\n"),
            did, F.lit(":"), F.col("text"), F.lit("\n"),
            F.when(F.col("doc_id") % 4 == 0, F.lit("SHARED FOOTER")).otherwise(
                F.concat(F.lit("u-"), did)
            ),
        ).alias("text"),
    )
    return remove_boilerplate_lines(corpus, max_docs=2).select(
        "doc_id", "text_clean"
    )


def _sql_boilerplate() -> str:
    return """
    WITH corpus AS (
      SELECT doc_id,
             'HDR-' || source || chr(10)
             || CAST(doc_id AS VARCHAR) || ':' || text || chr(10)
             || CASE WHEN doc_id % 4 = 0 THEN 'SHARED FOOTER'
                     ELSE 'u-' || CAST(doc_id AS VARCHAR) END AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS line,
             unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
      FROM corpus
    ),
    common AS (
      SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) > 2
    ),
    kept AS (
      SELECT doc_id, pos, line FROM lines
      WHERE line NOT IN (SELECT line FROM common)
    )
    SELECT c.doc_id AS doc_id,
           coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text_clean
    FROM corpus c LEFT JOIN kept k ON c.doc_id = k.doc_id
    GROUP BY c.doc_id
    """


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (`remove_duplicate_spans`, Lee et al. 2021):
    every 6-token span occurring >= 2 times in the corpus is cut from every
    document carrying it and the survivors reassembled in order. The corpus
    plants two repeated passages on the synthetic single-line docs — a
    6-token header for doc_id % 5 == 0 and a 10-token license tail for
    doc_id % 3 == 0 — so removal must hit full-span, multi-gram-overlap and
    leave straddle grams (header/body, body/license boundaries, unique per
    doc) alone. The engine counts grams by 64-bit hash (8-byte shuffle
    rows); the oracle counts the gram STRINGS — a hash match therefore also
    certifies the corpus saw no hash collisions."""
    from geo_epic_spark.operators.text import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.when(did % 5 == 0, F.lit(_SPAN_HDR + " ")).otherwise(F.lit("")),
            F.col("text"),
            F.when(did % 3 == 0, F.lit(" " + _SPAN_LIC)).otherwise(F.lit("")),
        ).alias("text"),
    )
    return remove_duplicate_spans(corpus, key="doc_id", k=6, min_count=2).select(
        "doc_id", "clean_text", "n_tokens", "n_removed"
    )


_SPAN_HDR = "standard corpus chrome banner preamble blurb"          # 6 tokens
_SPAN_LIC = (
    "licensed under apache two point zero see notice distribution file"
)                                                                   # 10 tokens


def _sql_dedup_spans() -> str:
    return f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN '{_SPAN_HDR} ' ELSE '' END
             || text ||
             CASE WHEN doc_id % 3 = 0 THEN ' {_SPAN_LIC}' ELSE '' END AS text
      FROM documents
    ),
    toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM corpus),
    gpos AS (
      SELECT doc_id, t,
             unnest(range(1, greatest(len(t) - 6 + 2, 1))) AS pos
      FROM toks
    ),
    grams AS (
      SELECT doc_id, pos, array_to_string(t[pos:pos+5], ' ') AS g FROM gpos
    ),
    dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
    cov AS (
      SELECT DISTINCT gr.doc_id, gr.pos + r.range AS tp
      FROM grams gr, range(0, 6) r
      WHERE gr.g IN (SELECT g FROM dup)
    ),
    tokens AS (
      SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t) + 1)) AS tp
      FROM toks
    ),
    kept AS (
      SELECT tk.doc_id, tk.tp, tk.w
      FROM tokens tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.tp = cov.tp
      WHERE cov.doc_id IS NULL
    ),
    reb AS (
      SELECT doc_id, string_agg(w, ' ' ORDER BY tp) AS clean_text,
             count(*) AS nk
      FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks)
    SELECT tot.doc_id AS doc_id,
           coalesce(reb.clean_text, '') AS clean_text,
           tot.n_tokens AS n_tokens,
           tot.n_tokens - coalesce(reb.nk, 0) AS n_removed
    FROM tot LEFT JOIN reb ON tot.doc_id = reb.doc_id
    """


def q_sample_to_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact domain-mix downsampling (`sample_to_mix`): blend sources to
    integer parts 5:3:2 — group g keeps exactly w_g * n_units rows, the
    smallest under the reproducible (hash, key) order. The engine runs the
    scalable histogram-threshold plan (prefix hash-buckets map-only +
    boundary-bucket-only rank); the oracle is the NAIVE per-group global
    rank — a hash match proves the two selections identical."""
    from geo_epic_spark.operators.sampling import sample_to_mix

    docs = _t(spark, sf_dir, "documents")
    return sample_to_mix(
        docs, "doc_id", "source", {"src0": 5, "src1": 3, "src2": 2}, salt=7
    ).select("doc_id", "source")


def _sql_sample_to_mix() -> str:
    return """
    WITH h AS (
      SELECT doc_id, source,
             ((((doc_id % 1000003) + 7) * 2654435761) % 2147483647
              * 48271) % 2147483647 AS hv,
             CASE source WHEN 'src0' THEN 5 WHEN 'src1' THEN 3 ELSE 2 END AS w
      FROM documents WHERE source IN ('src0', 'src1', 'src2')
    ),
    c AS (SELECT source, w, count(*) AS n FROM h GROUP BY source, w),
    nu AS (SELECT min(n // w) AS n_units FROM c),
    r AS (
      SELECT doc_id, source, w,
             row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk
      FROM h
    )
    SELECT doc_id, source FROM r, nu WHERE rk <= w * n_units
    """


def q_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing (`assign_aspect_buckets`): nearest-ratio bucket
    per image from a stride-256 bucket set under a 1 MP budget — the standard
    variable-aspect batching layout (NovelAI/SDXL methodology). Image dims
    are SQL-computable integer-hash synthetics; the distance key
    abs(w*bh - h*bw)/bh is exact-integer + one IEEE division, so both engines
    rank buckets bit-identically. Engine side is a map-only Column fold (no
    join, no shuffle); the oracle cross-joins and ranks."""
    from geo_epic_spark.images.aspect import assign_aspect_buckets, generate_buckets

    e = _t(spark, sf_dir, "events").select("event_id").filter("event_id < 2000")
    imgs = e.select(
        F.col("event_id").alias("img_id"),
        (F.lit(160) + F.pmod(F.col("event_id") * 37, F.lit(1900)))
        .cast("int")
        .alias("w"),
        (F.lit(160) + F.pmod(F.col("event_id") * 53, F.lit(1400)))
        .cast("int")
        .alias("h"),
    )
    out = assign_aspect_buckets(
        imgs, generate_buckets(1024 * 1024, 256, 512, 2048)
    )
    return out.select("img_id", "w", "h", "bucket_id", "bucket_w", "bucket_h")


def _sql_aspect_buckets() -> str:
    from geo_epic_spark.images.aspect import generate_buckets

    bks = generate_buckets(1024 * 1024, 256, 512, 2048)
    vals = ", ".join(
        f"({i}, {bw}, {bh})" for i, (bw, bh) in enumerate(bks)
    )
    return f"""
    WITH imgs AS (
      SELECT event_id AS img_id,
             CAST(160 + (event_id * 37) % 1900 AS INT) AS w,
             CAST(160 + (event_id * 53) % 1400 AS INT) AS h
      FROM events WHERE event_id < 2000
    ),
    ranked AS (
      SELECT img_id, w, h, b.idx, b.bw, b.bh,
             row_number() OVER (
               PARTITION BY img_id
               ORDER BY CAST(abs(w * b.bh - h * b.bw) AS DOUBLE) / b.bh,
                        b.idx) AS rn
      FROM imgs CROSS JOIN (VALUES {vals}) AS b(idx, bw, bh)
    )
    SELECT img_id, w, h, idx AS bucket_id, bw AS bucket_w, bh AS bucket_h
    FROM ranked WHERE rn = 1
    """


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (`chunk_documents`): 48-token
    chunks re-reading 8, the layout step between curation and packing for
    docs longer than the model context. Chunk 0 always exists; a later
    chunk exists iff it adds at least one new token (no overlap-only
    tails). Map-only split/sequence/explode/slice — zero shuffle; every
    boundary is integer floor-division arithmetic, mirrored exactly."""
    from geo_epic_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, chunk_tokens=48, overlap=8)


def _sql_chunk_docs() -> str:
    return """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    base AS (SELECT doc_id, t, len(t) AS n FROM toks),
    ks AS (
      SELECT doc_id, t, n,
             unnest(range(0, 1 + greatest(0, (n - 8 - 1) // 40))) AS k
      FROM base
    )
    SELECT doc_id, CAST(k AS INT) AS chunk_id,
           array_to_string(t[k * 40 + 1 : k * 40 + 48], ' ') AS chunk_text,
           CAST(least(48, n - k * 40) AS INT) AS n_tokens
    FROM ks
    """


def q_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Low-information image filter (`image_quality_report`): decode +
    contrast/entropy/sharpness stats in one Arrow map stage, flag images
    below the contrast AND entropy floors — the image-side quality floor of
    a multimodal curation pipeline. Planted ground truth: every ``i % 9 ==
    0`` payload is a constant-pixel frame (contrast = entropy = 0); natural
    frames measure >= (16, 5.6) so the (4.0, 1.0) floors split exactly on
    the plant. The stats themselves are payload-derived (not
    SQL-computable); the flag SET is — the oracle emits it from the
    generator's index rule, so any decode or stats regression that
    misclassifies one image breaks the hash."""
    from geo_epic_spark.images.udfs import full_images_df, image_quality_report

    df = full_images_df(spark, 300, flat_mod=9)
    rep = image_quality_report(df, min_contrast=4.0, min_entropy_bits=1.0)
    return rep.select("image_id", "low_info")


def _sql_image_quality() -> str:
    return """
    SELECT printf('img%012d', i) AS image_id,
           CAST(CASE WHEN i % 9 = 0 THEN 1 ELSE 0 END AS INT) AS low_info
    FROM (SELECT unnest(range(300)) AS i)
    """


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (`split_assign`): half-open
    hash-unit bands in fraction order — stable under re-runs, retries,
    repartitioning and corpus growth (randomSplit is none of these).
    Map-only, zero shuffle; the oracle reproduces the hash and band edges
    digit-for-digit."""
    from geo_epic_spark.operators.sampling import split_assign

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return split_assign(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt=11
    )


def _sql_split_assign() -> str:
    # band edges accumulate in FLOAT on the Spark side (0.8 + 0.1 =
    # 0.9000000000000001); reproduce the exact accumulated doubles, not the
    # pretty decimals, or a u in the 1-ulp sliver flips split
    e1, e2 = 0.8, 0.8 + 0.1
    return f"""
    WITH h AS (
      SELECT doc_id, source,
             (((((doc_id % 1000003) + 11) * 2654435761) % 2147483647
              * 48271) % 2147483647) / 2147483647.0 AS u
      FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN u < {e1!r} THEN 'train'
                WHEN u < {e2!r} THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) spatial layout key (`cells.zorder_key`): quantize
    (cx, cy) to a 2^14 grid and interleave the bits — the Iceberg/Delta
    Z-ORDER layout step that co-locates Earth-adjacent images in the same
    parquet row groups so bbox scans prune to contiguous key ranges. Pure
    integer Column arithmetic (4 shift/mask rounds per axis, zero UDFs);
    the oracle reproduces the interleave digit-for-digit and the layout
    rank (range-partition position) via a global row_number."""
    from geo_epic_spark.cells import zorder_key

    imgs = synth.images_meta_df(spark, 2000)
    return imgs.select(
        "image_id", zorder_key(F.col("cx"), F.col("cy"), bits=14).alias("z")
    )


def _sql_zorder_layout() -> str:
    from geo_epic_spark.cells import sql_zorder_key

    return f"""
    WITH imgs AS ({synth.images_meta_sql(2000)})
    SELECT image_id, {sql_zorder_key('cx', 'cy', bits=14)} AS z
    FROM imgs
    """


def q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered STORAGE layout end-to-end (`sources/layout.py`, r5 VERDICT
    item 3): write 20k synth images range-partitioned + sorted by the
    Morton key with a zp=z>>16 directory prefix (the Iceberg truncate(z)
    partition analog), then run a bbox query through `bbox_scan` — corner
    z-range BETWEEN (valid by per-coordinate monotonicity of the
    interleave) + zp directory range + the exact lon/lat box. The oracle
    is the plain bbox filter over the same generated table, so a hash
    match proves the layout round-trip (write -> partition prune ->
    row-group prune -> residual filter) loses and invents nothing. The
    files-read/rows-read REDUCTION the layout exists for is pinned with
    executed-plan metrics in tests/test_layout.py (PLANS.md has the
    measured table)."""
    from geo_epic_spark.sources.layout import bbox_scan, write_zorder_layout

    imgs = synth.images_meta_df(spark, 20000).select("image_id", "cx", "cy")
    path = _scratch("zorder_scan")
    write_zorder_layout(imgs, path, n_files=8, partition_prefix_bits=16)
    out = bbox_scan(spark, path, -97.1, 40.9, -96.8, 41.1,
                    partition_prefix_bits=16)
    # cx/cy are exact integer-hash doubles (synth.py contract) — no rounding
    return out.select("image_id", "cx", "cy")


def _sql_zorder_scan() -> str:
    return f"""
    WITH imgs AS ({synth.images_meta_sql(20000)})
    SELECT image_id, cx, cy FROM imgs
    WHERE cx >= -97.1 AND cx <= -96.8 AND cy >= 40.9 AND cy <= 41.1
    """


def q_shuffle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle (`shuffle_rows`, ranged method): the
    training-order randomization step — rank under the reproducible
    (hash, key) order via repartitionByRange + per-partition mapInPandas
    rank + broadcast offsets (distributed prefix scan; no global
    single-task sort). Input scattered across 16 unordered partitions so
    the oracle (one global row_number) proves the two-phase rank
    reconstructs the exact global permutation."""
    from geo_epic_spark.operators.sampling import shuffle_rows

    docs = _t(spark, sf_dir, "documents").select("doc_id").repartition(16)
    return shuffle_rows(docs, "doc_id", salt=7, method="ranged")


def _sql_shuffle_rows() -> str:
    return """
    WITH h AS (
      SELECT doc_id,
             ((((doc_id % 1000003) + 7) * 2654435761) % 2147483647
              * 48271) % 2147483647 AS hv
      FROM documents
    )
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY hv, doc_id) - 1 AS BIGINT)
             AS shuffle_pos
    FROM h
    """


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality scoring (`bigram_lm_score`): self-trained
    add-alpha bigram model, per-doc mean negative log-likelihood — the
    CCNet head/middle/tail bucketing signal (Wenzek et al. 2020), KenLM
    replaced by a corpus-trained bigram model so the whole path is
    DataFrame aggregates + equi-joins on 64-bit gram hashes (shuffle
    carries ~|distinct bigrams|, never token text). The oracle retrains
    the identical model in SQL and re-derives every score."""
    from geo_epic_spark.operators.text import bigram_lm_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_lm_score(docs, alpha=0.5)


def _sql_bigram_lm() -> str:
    return r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS g
      FROM toks
    ),
    bg AS (SELECT g, count(*) AS c12 FROM big GROUP BY 1),
    ctx AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
    vocab AS (
      SELECT count(DISTINCT w) AS v
      FROM (SELECT unnest(t) AS w FROM toks)
    ),
    scored AS (
      SELECT b.doc_id,
             -ln((bg.c12 + 0.5) / (ctx.c1 + 0.5 * vocab.v)) AS nll
      FROM big b JOIN bg USING (g) JOIN ctx USING (w1), vocab
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS avg_nll
      FROM scored GROUP BY 1
    )
    SELECT d.doc_id AS doc_id,
           CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           a.avg_nll AS avg_nll
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style text normalization (`normalize_text`): mojibake
    repair (UTF-8-as-cp1252 sequences), curly-quote/dash/ellipsis folding,
    zero-width + control stripping, whitespace collapse — all JVM
    replace/regexp_replace Columns, map-only, zero shuffle. The fixture
    plants each damage class deterministically by doc_id band; the oracle
    SQL is GENERATED from the same NORMALIZE_STEPS table
    (`sql_norm_expr`), so engine/oracle parity holds by construction."""
    from geo_epic_spark.operators.text import normalize_text

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 60),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit(" itâ€™s â€œmojibakeâ€ â€” naÃ¯ve cafÃ©â€¦")
                   ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 1,
                   F.lit(" curly ‘x’ “y” – z…")
                   ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 2,
                   F.concat(F.lit("  messy "), F.lit("\t"),
                            F.lit(" spaced​  "))
                   ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return normalize_text(d)


def _sql_normalize_text() -> str:
    from geo_epic_spark.operators.text import sql_norm_expr

    return f"""
    WITH planted AS (
      SELECT doc_id,
             substr(text, 1, 60)
             || CASE WHEN doc_id % 4 = 0
                     THEN ' itâ€™s â€œmojibakeâ€ â€” naÃ¯ve cafÃ©â€¦'
                     ELSE '' END
             || CASE WHEN doc_id % 4 = 1
                     THEN ' curly ‘x’ “y” – z…'
                     ELSE '' END
             || CASE WHEN doc_id % 4 = 2
                     THEN '  messy ' || chr(9) || ' spaced​  '
                     ELSE '' END AS text
      FROM documents
    ),
    normed AS (
      SELECT doc_id, text, {sql_norm_expr('text')} AS norm_text FROM planted
    )
    SELECT doc_id, norm_text,
           CAST(CASE WHEN text <> norm_text THEN 1 ELSE 0 END AS INTEGER) AS changed
    FROM normed
    """


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (`web.url_dedup`): canonicalize crawl URLs
    (scheme/host case, `www.`, default port, fragment, tracking params,
    param sort, trailing slash) and keep the smallest doc_id per canonical
    URL. The fixture plants five variant classes by doc_id band that
    collapse onto shared canonical URLs; the oracle's canonicalization is
    GENERATED from the same regex constants (`sql_canon_url_expr`), so
    engine/oracle parity holds by construction. Plan: map-only
    canonicalization fused into the scan + one hash-agg exchange on the
    canonical key (pinned in test_web)."""
    from geo_epic_spark.operators.web import url_dedup

    host = F.concat(F.lit("site"), (F.col("doc_id") % 7).cast("string"),
                    F.lit(".com"))
    path = F.concat(F.lit("/p/"), (F.col("doc_id") % 50).cast("string"))
    v = (F.col("doc_id") % 5).cast("int")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(v == 0, F.concat(F.lit("https://www."), host, path,
                                F.lit("/?utm_source=x&b=2&a=1#frag")))
         .when(v == 1, F.concat(F.lit("HTTPS://"), F.upper(host),
                                F.lit(":443"), path))
         .when(v == 2, F.concat(F.lit("https://"), host, path, F.lit("/")))
         .when(v == 3, F.concat(F.lit("https://"), host, path,
                                F.lit("?b=2&a=1&fbclid=zz")))
         .otherwise(F.concat(F.lit("https://"), host, path,
                             F.lit("?a=1&b=2")))
         .alias("url"),
    )
    return url_dedup(d)


def _sql_url_dedup() -> str:
    from geo_epic_spark.operators.web import sql_canon_url_expr

    host = "'site' || CAST(doc_id % 7 AS VARCHAR) || '.com'"
    path = "'/p/' || CAST(doc_id % 50 AS VARCHAR)"
    return f"""
    WITH planted AS (
      SELECT doc_id,
             CASE CAST(doc_id % 5 AS INTEGER)
               WHEN 0 THEN 'https://www.' || {host} || {path}
                           || '/?utm_source=x&b=2&a=1#frag'
               WHEN 1 THEN 'HTTPS://' || upper({host}) || ':443' || {path}
               WHEN 2 THEN 'https://' || {host} || {path} || '/'
               WHEN 3 THEN 'https://' || {host} || {path} || '?b=2&a=1&fbclid=zz'
               ELSE 'https://' || {host} || {path} || '?a=1&b=2'
             END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id, {sql_canon_url_expr('url')} AS canon_url FROM planted
    )
    SELECT canon_url, MIN(doc_id) AS keep_id, COUNT(*) AS n_urls
    FROM canon GROUP BY canon_url
    """


_BM25_QUERIES = [
    ("q1", "spark window agg"),
    ("q2", "hash join merge sort"),
    ("q3", "customer query filter"),
]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-k (`search.bm25_topk`): rank the documents table
    against three probe queries, top-10 each. The corpus-side plan is one
    broadcast term-prune + one (doc, term) hash aggregate — no
    corpus⋈corpus join (pinned in test_search); the oracle reproduces the
    full formula (idf, length normalization, round-then-rank tie-break)
    in SQL."""
    from geo_epic_spark.operators.search import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    q = spark.createDataFrame(_BM25_QUERIES, "q_id string, q_text string")
    return bm25_topk(docs, q, k=10)


def _sql_bm25_topk() -> str:
    from geo_epic_spark.operators.search import sql_bm25_topk

    return sql_bm25_topk(_BM25_QUERIES, k=10)


def q_polygon_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shoelace polygon metrics (`spatial.polygon_stats`): area / signed
    area / perimeter / centroid over the CSB field-polygon vertex arrays —
    pure Column higher-order functions, map-only, zero shuffle (plan
    pinned in test_spatial). The oracle re-derives every metric from the
    generated `sql_polygon_stats` expressions with the identical left-fold
    summation order (bit-for-bit before the round)."""
    from geo_epic_spark.operators.spatial import polygon_stats

    flds = synth.fields_df(spark, 300).select("poly_id", "xs", "ys")
    out = polygon_stats(flds).select(
        "poly_id", "area", "signed_area", "perimeter", "cx", "cy"
    )
    return _r6(out, ["area", "signed_area", "perimeter", "cx", "cy"])


def _sql_polygon_stats() -> str:
    from geo_epic_spark.operators.spatial import sql_polygon_stats

    ex = sql_polygon_stats()
    return f"""
    WITH corners AS ({synth.fields_sql(300)}),
    polys AS (
      SELECT poly_id, [x0, x1, x1, x0] AS xs, [y0, y0, y1, y1] AS ys
      FROM corners
    )
    SELECT poly_id,
           ROUND({ex['area']}, 6) AS area,
           ROUND({ex['signed_area']}, 6) AS signed_area,
           ROUND({ex['perimeter']}, 6) AS perimeter,
           ROUND({ex['cx']}, 6) AS cx,
           ROUND({ex['cy']}, 6) AS cy
    FROM polys
    """


def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution cell pyramid (`spatial.cell_rollup`): image counts
    per lattice cell at 4 resolutions (0.05·2^l) in ONE scan — map-side
    level fan-out, one (level, cell) hash aggregate (single-Exchange plan
    pinned in test_spatial). The hypertable-rollup pattern over the
    H3/S2-style index."""
    from geo_epic_spark.operators.spatial import cell_rollup

    pts = synth.images_meta_df(spark, 5000).select(
        F.col("cx").alias("lon"), F.col("cy").alias("lat")
    )
    return cell_rollup(pts, res=0.05, levels=4)


def _sql_cell_rollup() -> str:
    from geo_epic_spark.operators.spatial import sql_cell_rollup

    pts = f"SELECT cx AS lon, cy AS lat FROM ({synth.images_meta_sql(5000)})"
    return sql_cell_rollup(pts, res=0.05, levels=4)


def q_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile (`diagnostics.profile_table`): null rate /
    exact distinct / min / max / mean for every documents column from ONE
    aggregation over ONE scan (plan pinned in test_diagnostics) — the
    data-quality snapshot a 100 TB job asserts before committing compute."""
    from geo_epic_spark.operators.diagnostics import profile_table

    return profile_table(_t(spark, sf_dir, "documents"))


def _sql_profile_docs() -> str:
    from geo_epic_spark.operators.diagnostics import sql_profile_table

    return sql_profile_table(
        "documents",
        [("doc_id", True), ("text", False), ("lang", False),
         ("source", False), ("n_chars", True)],
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew report (`diagnostics.key_skew_report`): the 10
    heaviest order keys in lineitem with share-of-table and hot_factor
    (multiple of the mean group size) — the measurement that sizes
    `add_salt`'s salt factor and AQE's skew threshold before a big join."""
    from geo_epic_spark.operators.diagnostics import key_skew_report

    return key_skew_report(_t(spark, sf_dir, "lineitem"), "l_orderkey", top=10)


def _sql_skew_report() -> str:
    from geo_epic_spark.operators.diagnostics import sql_key_skew_report

    return sql_key_skew_report("lineitem", "l_orderkey", top=10)


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (`bpe.bpe_train`, Sennrich 2016):
    8 merge rules learned from the documents corpus. Spark does the
    word-frequency aggregation, per-round weighted pair counts (hash agg)
    and the greedy merge fold (pure-Column aggregate); the driver receives
    one argmax row per round. The oracle regenerates the ENTIRE 8-round
    training as chained CTEs (`sql_bpe_merges`) — counts, argmaxes and
    folds re-derived, not replayed."""
    from geo_epic_spark.operators.bpe import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), n_merges=8)


def _sql_bpe_train() -> str:
    from geo_epic_spark.operators.bpe import sql_bpe_merges

    return sql_bpe_merges("documents", 8)


def q_overlay_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-vector overlay join (`overlay.overlay_join`): exact
    intersection area of every (image tile, field polygon) pair, rolled up
    per zone — the area-WEIGHTED generalization of the reference's
    containment-only zonal transfer (`utils/raster_utils.py:53-108`,
    geopandas `overlay(how='intersection')` analog). The Spark side runs
    the GENERAL Sutherland–Hodgman clip kernel on vertex arrays
    (cell-bucketed candidates, canonical-cell map-side dedup, Arrow UDF);
    the oracle uses the closed-form rect∩rect min/max formula — agreement
    proves the clip kernel exact on the rect fixtures."""
    from geo_epic_spark.operators.overlay import overlay_join

    imgs = synth.images_meta_df(spark, 2000).select(
        "image_id", "w", "h",
        F.array("lon_min", "lon_max", "lon_max", "lon_min").alias("xs"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max").alias("ys"),
    )
    flds = synth.fields_df(spark, N_POLY).select(
        "poly_id", F.col("xs").alias("zxs"), F.col("ys").alias("zys"))
    pairs = overlay_join(imgs, flds, res=0.05)
    out = pairs.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum("overlap_area").alias("covered_area"),
        (F.sum(F.col("overlap_area") * (F.col("w") * F.col("h")).cast("double"))
         / F.sum("overlap_area")).alias("wmean_pixels"),
    )
    return _r6(out, ["covered_area", "wmean_pixels"])


def _sql_overlay_area() -> str:
    from geo_epic_spark.operators.overlay import sql_rect_overlap

    a = sql_rect_overlap("i.lon_min", "i.lat_min", "i.lon_max", "i.lat_max",
                         "p.x0", "p.y0", "p.x1", "p.y1")
    return f"""
    WITH imgs AS ({synth.images_meta_sql(2000)}),
         polys AS ({synth.fields_sql(N_POLY)}),
         pairs AS (
           SELECT p.poly_id, i.w, i.h, {a} AS a
           FROM imgs i JOIN polys p
             ON i.lon_min <= p.x1 AND p.x0 <= i.lon_max
            AND i.lat_min <= p.y1 AND p.y0 <= i.lat_max
         )
    SELECT poly_id, COUNT(*) AS n_tiles,
           ROUND(SUM(a), 6) AS covered_area,
           ROUND(SUM(a * (w * h)) / SUM(a), 6) AS wmean_pixels
    FROM pairs WHERE a > 0 GROUP BY 1
    """


_DEM_NR, _DEM_NC, _DEM_SP = 60, 80, 0.05


def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal 3×3 map algebra (`mapalgebra.focal_stats`) over the mukey
    raster-as-table (with its ~2% nodata holes): per-cell neighborhood
    mean/min/max/count in the scatter→single-hash-agg shape (no raster
    self-join; same single-Exchange plan family as q_cell_rollup). The
    oracle re-derives the window by the identical offset arithmetic."""
    from geo_epic_spark.operators.mapalgebra import focal_stats

    raster = synth.soil_grid_df(spark, 100, 120, 0.018)
    out = focal_stats(raster, nc=120, nr=100, value="mukey")
    return _r6(out, ["focal_mean"])


def _sql_focal_stats() -> str:
    from geo_epic_spark.operators.mapalgebra import sql_focal_stats

    inner = sql_focal_stats("raster", nc=120, nr=100, value="mukey")
    return f"""
    WITH raster AS ({synth.soil_grid_sql(100, 120, 0.018)})
    SELECT grid_id, ROUND(focal_mean, 6) AS focal_mean, focal_min, focal_max, focal_count
    FROM ({inner})
    """


def q_slope_aspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn slope + aspect octant (`mapalgebra.slope_aspect`) over the DEM
    lattice — the terrain-derivative half of raster map algebra. Aspect is
    encoded by sign/ratio comparisons (no atan2), so the DuckDB mirror
    decides each cell by identical double comparisons; slope rounds at 6dp."""
    from geo_epic_spark.operators.mapalgebra import slope_aspect

    dem = synth.elev_grid_df(spark, _DEM_NR, _DEM_NC, _DEM_SP)
    out = slope_aspect(dem, nc=_DEM_NC, nr=_DEM_NR, spacing=_DEM_SP)
    return _r6(out, ["slope"])


def _sql_slope_aspect() -> str:
    from geo_epic_spark.operators.mapalgebra import sql_slope_aspect

    inner = sql_slope_aspect("dem", nc=_DEM_NC, nr=_DEM_NR, spacing=_DEM_SP)
    return f"""
    WITH dem AS ({synth.elev_grid_sql(_DEM_NR, _DEM_NC, _DEM_SP)})
    SELECT grid_id, ROUND(slope, 6) AS slope, aspect_octant
    FROM ({inner})
    """


def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance join (`geocluster.radius_join`): every (image,
    grid-center) pair at planar distance <= 0.1° — the all-neighbors
    generalization of the reference's nearest-one lookup
    (`utils/raster_utils.py:16-30`). Covering-cell equi-join, distance
    refine inside the broadcast join condition; the squared distance is
    exact mul/add arithmetic so the oracle hash-matches WITHOUT rounding."""
    from geo_epic_spark.operators.geocluster import radius_join

    pts = synth.images_meta_df(spark, 2000).select("i", "cx", "cy")
    grid = synth.grid_df(spark, GRID_NR, GRID_NC, GRID_SP).select(
        "grid_id", F.col("lon").alias("clon"), F.col("lat").alias("clat"))
    return radius_join(
        pts, grid, radius=0.1, lon="cx", lat="cy", center_id="grid_id"
    ).select("i", "grid_id", "dist2")


def _sql_radius_join() -> str:
    return f"""
    WITH pts AS ({synth.images_meta_sql(2000)}),
         grid AS ({synth.grid_sql(GRID_NR, GRID_NC, GRID_SP)})
    SELECT p.i, g.grid_id,
           (p.cx - g.lon) * (p.cx - g.lon) + (p.cy - g.lat) * (p.cy - g.lat) AS dist2
    FROM pts p JOIN grid g
      ON (p.cx - g.lon) * (p.cx - g.lon) + (p.cy - g.lat) * (p.cy - g.lat) <= 0.1 * 0.1
    """


def q_density_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering (`geocluster.density_cluster`, DBSCAN-lite):
    the planted HOT cluster (20% of images in 0.2°×0.15°) surfaces as one
    dense-cell component via large/small-star contraction; sparse-cell
    points are noise (NULL cluster). The oracle re-derives dense cells and
    the component labels with a recursive-CTE transitive closure over the
    SAME 8-adjacency graph."""
    from geo_epic_spark.operators.geocluster import density_cluster

    pts = synth.images_meta_df(spark, N_IMG).select(
        F.col("i").alias("point_id"), "cx", "cy")
    return density_cluster(pts, res=0.02, min_pts=6, lon="cx", lat="cy")


def _sql_density_cluster() -> str:
    from geo_epic_spark.operators.geocluster import sql_density_cluster

    inner = sql_density_cluster(
        f"SELECT i AS point_id, cx, cy FROM ({synth.images_meta_sql(N_IMG)})",
        res=0.02, min_pts=6, lon="cx", lat="cy")
    return inner


def q_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar shard export (`images.shards.write_webdataset`): the
    image+caption table is hash-banded into 8 shards (`sampling.hash_unit`,
    the same decision function as q_split_assign) and each shard group
    writes one DETERMINISTIC tar (sorted members, USTAR, zeroed metadata).
    The oracled projection is the SQL-expressible half of the manifest —
    shard assignment, member counts, caption byte totals; tar byte layout
    and payload integrity are pinned by the roundtrip + stable-sha pytest
    (test_shards), since PNG payload sizes are not SQL-derivable."""
    import tempfile

    from geo_epic_spark.images import full_images_df
    from geo_epic_spark.images.shards import write_webdataset
    from geo_epic_spark.operators.sampling import hash_unit

    out_dir = os.path.join(tempfile.gettempdir(), "ges_q_shard_export")
    imgs = full_images_df(spark, 600).withColumn(
        "shard", F.floor(hash_unit(F.col("i")) * 8).cast("long"))
    man = write_webdataset(imgs, out_dir)
    return man.select("shard", "n_members", "caption_bytes")


def _sql_shard_export() -> str:
    return f"""
    WITH imgs AS ({synth.images_meta_sql(600)}),
    h AS (
      SELECT caption,
             CAST(floor(((((i % 1000003) + 0) * 2654435761) % 2147483647
                         * 48271) % 2147483647 / 2147483647.0 * 8) AS BIGINT) AS shard
      FROM imgs
    )
    SELECT shard, 2 * COUNT(*) AS n_members,
           CAST(SUM(strlen(caption)) AS BIGINT) AS caption_bytes
    FROM h GROUP BY shard
    """


def q_regrid_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear raster resample (`mapalgebra.regrid_bilinear`): the DEM
    lattice re-gridded from 0.05° to 0.03° — target lattice generated (no
    input scan), 4-corner fan-out with bilinear weights map-side, one
    equi-join + one weighted aggregate. Edge targets renormalize by the
    surviving corner weights; the oracle repeats the identical
    fractional-coordinate arithmetic so the floor()s agree bit-for-bit."""
    from geo_epic_spark.operators.mapalgebra import regrid_bilinear

    src = synth.elev_grid_df(spark, _DEM_NR, _DEM_NC, _DEM_SP)
    out = regrid_bilinear(
        src, src_nc=_DEM_NC, src_nr=_DEM_NR, src_spacing=_DEM_SP,
        dst_nc=130, dst_nr=95, dst_spacing=0.03, value="elev",
        lon0=synth.AOI["lon0"], lat0=synth.AOI["lat0"])
    return _r6(out, ["elev", "w_total"])


def _sql_regrid_bilinear() -> str:
    from geo_epic_spark.operators.mapalgebra import sql_regrid_bilinear

    inner = sql_regrid_bilinear(
        synth.elev_grid_sql(_DEM_NR, _DEM_NC, _DEM_SP),
        src_nc=_DEM_NC, src_nr=_DEM_NR, src_spacing=_DEM_SP,
        dst_nc=130, dst_nr=95, dst_spacing=0.03, value="elev",
        lon0=synth.AOI["lon0"], lat0=synth.AOI["lat0"])
    return f"""
    SELECT dst_id, ROUND(elev, 6) AS elev, ROUND(w_total, 6) AS w_total
    FROM ({inner})
    """


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg MERGE INTO semantics (`relational.merge_upsert`):
    last-writer-wins upsert + delete tombstones over the orders table in
    ONE key-keyed window shuffle. Planted cases: version-2 updates win,
    version-TIE updates win (the update is the later writer), and
    tombstoned keys vanish. The oracle replays the same
    union + row_number + anti-tombstone pipeline."""
    from geo_epic_spark.operators.relational import merge_upsert

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", F.col("o_totalprice").alias("val"), F.lit(1).alias("version"))
    upd = (
        orders.where(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(100.0)).alias("val"),
            F.when(F.col("o_orderkey") % 6 == 0, F.lit(1)).otherwise(F.lit(2)).alias("version"),
            (F.col("o_orderkey") % 9 == 0).alias("deleted"),
        )
    )
    return merge_upsert(base, upd, key="o_orderkey", version="version",
                        delete_col="deleted")


def _sql_merge_upsert() -> str:
    return """
    WITH base AS (
      SELECT o_orderkey, o_totalprice AS val, 1 AS version, FALSE AS deleted, 0 AS upd
      FROM orders
    ),
    updates AS (
      SELECT o_orderkey, o_totalprice + 100.0 AS val,
             CASE WHEN o_orderkey % 6 = 0 THEN 1 ELSE 2 END AS version,
             o_orderkey % 9 = 0 AS deleted, 1 AS upd
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderkey ORDER BY version DESC, upd DESC) AS rn
      FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)
    )
    SELECT o_orderkey, val, version
    FROM ranked WHERE rn = 1 AND NOT coalesce(deleted, FALSE)
    """


def q_adaptive_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadtree-adaptive tiling (`spatial.adaptive_cells`): cells holding
    > cap points split recursively, so the planted HOT cluster tiles 3-4
    levels finer than the sparse background — the skew answer as a LAYOUT
    operator (balanced cell partitions without salting). Exploits exact
    lattice nesting: a point's final level is the FIRST level whose cell
    count <= cap. Output: per final (level, cell) occupancy. Oracle:
    identical per-level cell arithmetic + min-qualifying-level selection."""
    from geo_epic_spark.operators.spatial import adaptive_cells

    pts = synth.images_meta_df(spark, N_IMG).select("i", "cx", "cy")
    out = adaptive_cells(pts, base_res=0.4, max_depth=4, cap=150,
                         lon="cx", lat="cy", point_id="i")
    return (
        out.groupBy("level", "cell", "cell_res")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def _sql_adaptive_cells() -> str:
    levels = "\n      UNION ALL\n".join(
        f"SELECT i, {cells.sql_cell_id('cx', 'cy', 0.4 / (2 ** l))} AS cell, "
        f"{l} AS level FROM pts"
        for l in range(5)
    )
    return f"""
    WITH pts AS (SELECT i, cx, cy FROM ({synth.images_meta_sql(N_IMG)})),
    chains AS (
      {levels}
    ),
    counts AS (SELECT level, cell, COUNT(*) AS n FROM chains GROUP BY 1, 2),
    tagged AS (
      SELECT c.i, c.level, c.cell
      FROM chains c JOIN counts t ON c.level = t.level AND c.cell = t.cell
      WHERE t.n <= 150 OR c.level = 4
    ),
    best AS (SELECT i, min(level) AS level FROM tagged GROUP BY i),
    final AS (
      SELECT b.i, b.level, c.cell, 0.4 / pow(2.0, CAST(b.level AS DOUBLE)) AS cell_res
      FROM best b JOIN chains c ON c.i = b.i AND c.level = b.level
    )
    SELECT level, cell, cell_res, COUNT(*) AS n_points
    FROM final GROUP BY 1, 2, 3
    """


def q_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-track trajectory analytics (`trajectory.trajectory_stats`):
    path length, net displacement, straightness and max step per GPS
    track — one lag window + one aggregate, both keyed on track_id. The
    oracle replays the identical window/min_by arithmetic."""
    from geo_epic_spark.operators.trajectory import trajectory_stats

    tracks = synth.tracks_df(spark, 400, 60)
    out = trajectory_stats(tracks)
    return _r6(out, ["path_len", "max_step", "displacement", "straightness"])


def _sql_trajectory() -> str:
    from geo_epic_spark.operators.trajectory import sql_trajectory_stats

    inner = sql_trajectory_stats(synth.tracks_sql(400, 60))
    return f"""
    SELECT track_id, n_points,
           ROUND(path_len, 6) AS path_len, ROUND(max_step, 6) AS max_step,
           ROUND(displacement, 6) AS displacement,
           ROUND(straightness, 6) AS straightness
    FROM ({inner})
    """


def q_crossmodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal joint near-dup (`dedup.crossmodal_near_dup`): pairs must
    be BOTH perceptually close (phash hamming <= 4, pigeonhole banding)
    AND caption-equivalent (word-bigram Jaccard >= 0.5, verified on
    candidates only). Planted: every doc < 60 gets a 2-bit-flipped phash
    copy; EVEN copies keep the caption (joint dup — must pair), ODD copies
    get the word-REVERSED caption (caption mismatch — the Jaccard verify
    must reject them even though the image side matches). Oracle:
    brute-force all-pairs over the same synthetic hashes + bigram sets."""
    from geo_epic_spark.operators.dedup import crossmodal_near_dup

    d = _t(spark, sf_dir, "documents").filter("doc_id < 300").select("doc_id", "text")
    i = F.col("doc_id")
    h = (
        F.pmod(i * F.lit(2654435761) + F.lit(17), F.lit(2147483648))
        * F.lit(4294967296)
        + F.pmod(i * F.lit(2246822519) + F.lit(101), F.lit(4294967296))
    )
    base = d.select(i.alias("img_id"), h.alias("phash"), F.col("text").alias("caption"))
    mask = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(pmod(doc_id * 7, 63) AS INT))"
        " | shiftleft(CAST(1 AS BIGINT), CAST(pmod(doc_id * 13, 63) AS INT))"
    )
    copies = d.filter("doc_id < 60").select(
        (i + F.lit(300)).alias("img_id"),
        h.bitwiseXOR(mask).alias("phash"),
        F.when(i % 2 == 0, F.col("text"))
        .otherwise(F.concat_ws(" ", F.reverse(F.split(F.col("text"), r"\s+"))))
        .alias("caption"),
    )
    out = crossmodal_near_dup(
        base.unionAll(copies), key="img_id", hash_col="phash",
        text="caption", max_hamming=4, min_jaccard=0.5, n=2)
    return _r6(
        out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"),
                   "jaccard"),
        ["jaccard"])


def _sql_crossmodal_dedup() -> str:
    bigrams = (
        "list_distinct([array_to_string(w[i:i+1], ' ') "
        "FOR i IN range(1, greatest(len(w) - 1, 0) + 1)])"
    )
    return f"""
    WITH d AS (
      SELECT doc_id, text,
             (doc_id * 2654435761 + 17) % 2147483648 * 4294967296
             + (doc_id * 2246822519 + 101) % 4294967296 AS phash
      FROM documents WHERE doc_id < 300
    ),
    base AS (SELECT doc_id AS img_id, phash, text AS caption, doc_id AS i FROM d),
    copies AS (
      SELECT i + 300 AS img_id,
             xor(phash, (CAST(1 AS BIGINT) << CAST((i * 7) % 63 AS INT))
                      | (CAST(1 AS BIGINT) << CAST((i * 13) % 63 AS INT))) AS phash,
             CASE WHEN i % 2 = 0 THEN caption
                  ELSE array_to_string(list_reverse(string_split_regex(caption, '\\s+')), ' ')
             END AS caption
      FROM base WHERE i < 60
    ),
    allr AS (
      SELECT img_id, phash,
             {bigrams.replace('w[', 'g[').replace('len(w)', 'len(g)')} AS grams
      FROM (SELECT img_id, phash, string_split_regex(caption, '\\s+') AS g
            FROM (SELECT img_id, phash, caption FROM base
                  UNION ALL SELECT img_id, phash, caption FROM copies))
    )
    SELECT a.img_id AS id_a, b.img_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming,
           ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
                 6) AS jaccard
    FROM allr a JOIN allr b ON a.img_id < b.img_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 4
      AND CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
    """


def q_hex_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hexagonal cell assignment (`cells.hex_cell_id`, the H3-style axial
    index of the north star): every image center binned into its planar
    hex cell via cube rounding — floor(x+0.5) rounding and largest-error
    axis restoration with identical double literals in both engines, so
    the assignment is bit-reproducible. Output: per-hex occupancy + the
    hex center (inverse axial transform)."""
    pts = synth.images_meta_df(spark, N_IMG).select("i", "cx", "cy")
    cid = cells.hex_cell_id(F.col("cx"), F.col("cy"), 0.05)
    binned = pts.select(cid.alias("hex"))
    lon_c, lat_c = cells.hex_center(F.col("hex"), 0.05)
    return _r6(
        binned.groupBy("hex").agg(F.count(F.lit(1)).alias("n_points"))
        .select("hex", "n_points", lon_c.alias("hx"), lat_c.alias("hy")),
        ["hx", "hy"])


def _sql_hex_assign() -> str:
    cid = cells.sql_hex_cell_id("cx", "cy", 0.05)
    return f"""
    WITH pts AS (SELECT cx, cy FROM ({synth.images_meta_sql(N_IMG)})),
    binned AS (SELECT {cid} AS hex FROM pts),
    agg AS (SELECT hex, COUNT(*) AS n_points FROM binned GROUP BY hex)
    SELECT hex, n_points,
           ROUND(0.05 * 1.7320508075688772
                 * ((hex % 4294967296) - 1048576
                    + ((hex // 4294967296) - 1048576) / 2.0), 6) AS hx,
           ROUND(0.05 * 1.5 * ((hex // 4294967296) - 1048576), 6) AS hy
    FROM agg
    """


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM event-time interval join executed on the actual
    streaming path (`streaming/stateful.interval_join_streams`): error
    events replayed through one readStream, click events through another,
    joined on user within a 12-hour lookback — watermarks on BOTH sides +
    explicit time bounds in the condition (the state-expiry requirements),
    availableNow into a memory sink. Oracle: the equivalent batch interval
    join — micro-batched stateful plan ≡ batch plan, row for row."""
    import hashlib
    import shutil
    import uuid

    from geo_epic_spark.streaming.stateful import interval_join_streams

    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:8]
    src_dir = _scratch(f"stream_src_events_{tag}")
    link = os.path.join(src_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    schema = _t(spark, sf_dir, "events").schema

    def stream():
        return (
            spark.readStream.schema(schema).parquet(src_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    errors = stream().where("event_type = 'error'").select(
        F.col("event_id").alias("eid"), "user_id", F.col("ts").alias("ts_l"))
    clicks = stream().where("event_type = 'click'").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("user_id"),
        F.col("ts").alias("ts_r"))
    joined = interval_join_streams(
        errors, clicks, key="user_id", lookback="12 hours", watermark="24 hours")
    name = "qsj_" + uuid.uuid4().hex[:8]
    ckpt = _scratch("stream_ckpt_" + name)
    q = (
        joined.writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name).select(
        "eid", "cid", "user_id",
        F.date_format("ts_l", "yyyy-MM-dd HH:mm:ss").alias("ts_l"),
        F.date_format("ts_r", "yyyy-MM-dd HH:mm:ss").alias("ts_r"),
    )


def _sql_stream_join() -> str:
    return """
    WITH l AS (
      SELECT event_id AS eid, user_id, ts FROM events WHERE event_type = 'error'
    ),
    r AS (
      SELECT event_id AS cid, user_id, ts AS tsr FROM events WHERE event_type = 'click'
    )
    SELECT l.eid, r.cid, l.user_id,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts_l,
           strftime(r.tsr, '%Y-%m-%d %H:%M:%S') AS ts_r
    FROM l JOIN r
      ON l.user_id = r.user_id
     AND r.tsr >= l.ts - INTERVAL 12 HOUR
     AND r.tsr <= l.ts
    """


def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join (r4 VERDICT item 6 — the
    attribution query "errors with no rescuing click"): same two replayed
    streams as q_stream_join but ``how='left_outer'``, so unmatched error
    events are null-padded once the watermark proves no qualifying click
    can still arrive. availableNow replay runs a final no-data micro-batch
    whose global watermark is the MIN over the two streams of max(ts) - 24h
    (Spark's default multiple-watermark policy); null rows for the region
    OLDER than that are fully emitted, rows younger stay in state — so BOTH
    engines clamp to ts_l <= min(max error ts, max click ts) - 25h
    (watermark + 1h margin clears the eviction boundary) and the oracle is
    the batch LEFT join there. Null
    pads are coalesced to the literal 'none' on both sides so the hash
    compare is null-representation-independent."""
    import hashlib
    import shutil
    import uuid

    from geo_epic_spark.streaming.stateful import interval_join_streams

    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:8]
    src_dir = _scratch(f"stream_src_events_{tag}")
    link = os.path.join(src_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    schema = _t(spark, sf_dir, "events").schema

    def stream():
        return (
            spark.readStream.schema(schema).parquet(src_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    errors = stream().where("event_type = 'error'").select(
        F.col("event_id").alias("eid"), "user_id", F.col("ts").alias("ts_l"))
    clicks = stream().where("event_type = 'click'").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("user_id"),
        F.col("ts").alias("ts_r"))
    joined = interval_join_streams(
        errors, clicks, key="user_id", lookback="12 hours",
        watermark="24 hours", how="left_outer")
    name = "qsjo_" + uuid.uuid4().hex[:8]
    ckpt = _scratch("stream_ckpt_" + name)
    q = (
        joined.writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    # bounded driver decision: the per-stream MAX event times over the
    # batch table fix the watermark-closed cutoff both engines clamp to
    cutoff = (
        _t(spark, sf_dir, "events")
        .where("event_type IN ('error', 'click')")
        .groupBy("event_type")
        .agg(F.max(F.col("ts").cast("timestamp")).alias("m"))
        .agg((F.min("m") - F.expr("INTERVAL 25 HOURS")).alias("c"))
        .collect()[0]["c"]
    )
    return (
        spark.table(name)
        .where(F.col("ts_l") <= F.lit(cutoff))
        .select(
            "eid",
            F.coalesce(F.col("cid").cast("string"), F.lit("none")).alias("cid"),
            "user_id",
            F.date_format("ts_l", "yyyy-MM-dd HH:mm:ss").alias("ts_l"),
            F.coalesce(F.date_format("ts_r", "yyyy-MM-dd HH:mm:ss"),
                       F.lit("none")).alias("ts_r"),
        )
    )


def _sql_stream_join_outer() -> str:
    return """
    WITH cut AS (
      SELECT min(m) - INTERVAL 25 HOUR AS c FROM (
        SELECT max(ts) AS m FROM events
        WHERE event_type IN ('error', 'click') GROUP BY event_type)
    ),
    l AS (
      SELECT event_id AS eid, user_id, ts FROM events
      WHERE event_type = 'error' AND ts <= (SELECT c FROM cut)
    ),
    r AS (
      SELECT event_id AS cid, user_id, ts AS tsr FROM events WHERE event_type = 'click'
    )
    SELECT l.eid, COALESCE(CAST(r.cid AS VARCHAR), 'none') AS cid, l.user_id,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts_l,
           COALESCE(strftime(r.tsr, '%Y-%m-%d %H:%M:%S'), 'none') AS ts_r
    FROM l LEFT JOIN r
      ON l.user_id = r.user_id
     AND r.tsr >= l.ts - INTERVAL 12 HOUR
     AND r.tsr <= l.ts
    """


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group convex hull (`spatial.group_convex_hull`, Andrew monotone
    chain in a grouped-pandas stage): each field polygon's 4 corners plus 5
    planted interior points (midpoints + centroid — convex combinations,
    analytically inside) per group. The hull must be EXACTLY the 4 corners
    CCW from the lex-min corner, so the oracle emits the closed-form
    answer from the corner coordinates: n_hull, rect area, perimeter,
    anchor vertex. General-position correctness rides test_spatial."""
    from geo_epic_spark.operators.spatial import group_convex_hull

    f = synth.fields_df(spark, 200)
    pts = f.select(
        "poly_id",
        F.explode(F.arrays_zip(
            F.array(F.col("x0"), F.col("x1"), F.col("x1"), F.col("x0"),
                    (F.col("x0") + F.col("x1")) / 2, (F.col("x0") + F.col("x1")) / 2,
                    F.col("x0") * F.lit(0.75) + F.col("x1") * F.lit(0.25),
                    F.col("x0") * F.lit(0.25) + F.col("x1") * F.lit(0.75),
                    (F.col("x0") + F.col("x1")) / 2),
            F.array(F.col("y0"), F.col("y0"), F.col("y1"), F.col("y1"),
                    (F.col("y0") + F.col("y1")) / 2, F.col("y0") * F.lit(0.75) + F.col("y1") * F.lit(0.25),
                    (F.col("y0") + F.col("y1")) / 2, (F.col("y0") + F.col("y1")) / 2,
                    F.col("y0") * F.lit(0.25) + F.col("y1") * F.lit(0.75)),
        )).alias("p"),
    ).select("poly_id", F.col("p.0").alias("lon"), F.col("p.1").alias("lat"))
    hull = group_convex_hull(pts, group="poly_id")
    return _r6(hull.select("poly_id", "n_hull", "area", "perimeter", "x0", "y0"),
               ["area", "perimeter", "x0", "y0"])


def _sql_convex_hull() -> str:
    return f"""
    WITH f AS ({synth.fields_sql(200)})
    SELECT poly_id, 4 AS n_hull,
           ROUND((x1 - x0) * (y1 - y0), 6) AS area,
           ROUND(2.0 * ((x1 - x0) + (y1 - y0)), 6) AS perimeter,
           ROUND(x0, 6) AS x0, ROUND(y0, 6) AS y0
    FROM f
    """


def q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-weighted interpolation (`geocluster.idw_interpolate`,
    power 2): each image center interpolates elevation from DEM stations
    within 0.4° — covering-cell candidate join (stations broadcast), one
    target-keyed aggregate. 1/d² weights are exact divisions (no pow), so
    the oracle replays identical arithmetic and only the sum order needs
    6dp rounding."""
    from geo_epic_spark.operators.geocluster import idw_interpolate

    stations = synth.elev_grid_df(spark, 12, 20, 0.25).select(
        F.col("lon").alias("slon"), F.col("lat").alias("slat"),
        F.col("elev").alias("v"))
    targets = synth.images_meta_df(spark, 2000).select(
        F.col("i").alias("target_id"), "cx", "cy")
    out = idw_interpolate(targets, stations, radius=0.4,
                          lon="cx", lat="cy")
    return _r6(out, ["v_idw"])


def _sql_idw() -> str:
    return f"""
    WITH st AS ({synth.elev_grid_sql(12, 20, 0.25)}),
         t AS (SELECT i AS target_id, cx, cy FROM ({synth.images_meta_sql(2000)})),
         cand AS (
           SELECT t.target_id, st.elev AS v,
                  (t.cx - st.lon) * (t.cx - st.lon)
                  + (t.cy - st.lat) * (t.cy - st.lat) AS d2
           FROM t JOIN st
             ON (t.cx - st.lon) * (t.cx - st.lon)
                + (t.cy - st.lat) * (t.cy - st.lat) <= 0.4 * 0.4
         )
    SELECT target_id,
           ROUND(COALESCE(
             MIN(CASE WHEN d2 = 0 THEN v END),
             SUM(CASE WHEN d2 = 0 THEN 0.0 ELSE (1.0 / d2) * v END)
             / SUM(CASE WHEN d2 = 0 THEN 0.0 ELSE 1.0 / d2 END)), 6) AS v_idw,
           COUNT(*) AS n_samples
    FROM cand GROUP BY target_id
    """


def q_geo_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed GEOSPATIAL curation pipeline (the spatial counterpart of
    q_curation): image tiles + their caption documents → broadcast doc
    join → caption-length quality floor → PIP assignment to field
    polygons → per-field rollup (image count, caption dedup via distinct
    doc ids, mean caption length, dominant language by count with
    deterministic tie-break). Every stage is an operator already proven
    alone; this row proves the COMPOSITION end-to-end against one SQL
    mirror of all four stages."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    imgs = (
        synth.images_meta_df(spark, 4000)
        .withColumn("doc_id", F.col("i") % F.lit(500))
        .join(F.broadcast(docs), "doc_id")
        .where(F.col("n_chars") >= 80)          # quality floor
    )
    flds = synth.fields_df(spark, 150).select("poly_id", "xs", "ys")
    assigned = pip_join(
        imgs.select("i", "cx", "cy", "doc_id", "lang", "n_chars"),
        flds, res=0.05, lon="cx", lat="cy")
    per_lang = assigned.groupBy("poly_id", "lang").agg(
        F.count(F.lit(1)).alias("n_lang"))
    w = Window.partitionBy("poly_id").orderBy(
        F.col("n_lang").desc(), F.col("lang").asc())
    top = per_lang.withColumn("__rk", F.row_number().over(w)) \
        .where("__rk = 1").select("poly_id", F.col("lang").alias("top_lang"))
    roll = assigned.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.countDistinct("doc_id").alias("n_unique_docs"),
        F.avg("n_chars").alias("mean_chars"),
    )
    return _r6(roll.join(top, "poly_id"), ["mean_chars"])


def _sql_geo_pipeline() -> str:
    return f"""
    WITH imgs AS (
      SELECT m.i, m.cx, m.cy, d.doc_id, d.lang, d.n_chars
      FROM ({synth.images_meta_sql(4000)}) m
      JOIN documents d ON d.doc_id = m.i % 500
      WHERE d.n_chars >= 80
    ),
    polys AS ({synth.fields_sql(150)}),
    assigned AS (
      SELECT p.poly_id, i.*
      FROM imgs i JOIN polys p
        ON i.cx BETWEEN p.x0 AND p.x1 AND i.cy BETWEEN p.y0 AND p.y1
    ),
    per_lang AS (
      SELECT poly_id, lang, COUNT(*) AS n_lang FROM assigned GROUP BY 1, 2
    ),
    top AS (
      SELECT poly_id, lang AS top_lang
      FROM (SELECT *, row_number() OVER (
              PARTITION BY poly_id ORDER BY n_lang DESC, lang ASC) AS rk
            FROM per_lang)
      WHERE rk = 1
    )
    SELECT a.poly_id, COUNT(*) AS n_images,
           COUNT(DISTINCT a.doc_id) AS n_unique_docs,
           ROUND(AVG(CAST(a.n_chars AS DOUBLE)), 6) AS mean_chars,
           ANY_VALUE(t.top_lang) AS top_lang
    FROM assigned a JOIN top t ON t.poly_id = a.poly_id
    GROUP BY a.poly_id
    """


def q_change_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal raster change detection: two DEM epochs joined on cell id
    (epoch B = epoch A + planted +8.0 jumps on ~1% of cells + sub-threshold
    jitter elsewhere), |diff| > 2 flags exactly the planted set, changed
    cells roll up per 8×8 block (n_changed, mean signed diff). The
    remote-sensing change-map pattern as one equi-join + one aggregate,
    both keyed on dense integer ids."""
    a = synth.elev_grid_df(spark, _DEM_NR, _DEM_NC, _DEM_SP)
    g = F.col("grid_id")
    jump = synth.u_col(g, synth.M[2], 7) < F.lit(0.01)
    drift = (synth.u_col(g, synth.M[3], 11) - F.lit(0.5)) * F.lit(0.8)
    b = a.select(
        "grid_id",
        (F.col("elev") + F.when(jump, F.lit(8.0)).otherwise(drift)).alias("elev2"))
    joined = a.join(b, "grid_id")
    diff = F.col("elev2") - F.col("elev")
    changed = joined.where(F.abs(diff) > 2.0).select(
        "grid_id", diff.alias("d"),
        (((g / F.lit(_DEM_NC)).cast("long") / 8).cast("long") * F.lit(1000)
         + ((g % F.lit(_DEM_NC)) / 8).cast("long")).alias("block"))
    return _r6(
        changed.groupBy("block").agg(
            F.count(F.lit(1)).alias("n_changed"),
            F.avg("d").alias("mean_diff")),
        ["mean_diff"])


def _sql_change_detect() -> str:
    uj = synth.u_sql("grid_id", synth.M[2], 7)
    ud = synth.u_sql("grid_id", synth.M[3], 11)
    return f"""
    WITH a AS ({synth.elev_grid_sql(_DEM_NR, _DEM_NC, _DEM_SP)}),
    b AS (
      SELECT grid_id,
             elev + CASE WHEN {uj} < 0.01 THEN 8.0
                         ELSE ({ud} - 0.5) * 0.8 END AS elev2
      FROM a
    ),
    j AS (
      SELECT a.grid_id, b.elev2 - a.elev AS d
      FROM a JOIN b ON a.grid_id = b.grid_id
      WHERE abs(b.elev2 - a.elev) > 2.0
    )
    SELECT ((grid_id // {_DEM_NC}) // 8) * 1000 + ((grid_id % {_DEM_NC}) // 8) AS block,
           COUNT(*) AS n_changed, ROUND(AVG(d), 6) AS mean_diff
    FROM j GROUP BY 1
    """


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (`similarity.pq_encode`/`pq_topk`, Jégou
    2011 — the compressed-ANN third leg next to exact cosine and IVF):
    64-dim embeddings encode into 4 subspace codes (16 codes each, argmin
    with lowest-code ties), queries score by ADC lookup tables. Codebooks
    are a deterministic pick (sub-slices of vec_id < 16), so the ENTIRE
    pipeline — encode argmins, per-query LUTs, ADC sums, ranking — is
    reproduced by the DuckDB oracle; recall-vs-exact stays in pytest."""
    from geo_epic_spark.operators.similarity import pq_encode, pq_topk

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    first16 = {r.vec_id: list(r.embedding)
               for r in e.where("vec_id < 16").collect()}
    m, dsub = 4, 16
    codebooks = [
        [first16[c][i * dsub:(i + 1) * dsub] for c in sorted(first16)]
        for i in range(m)
    ]
    enc = pq_encode(e, codebooks)
    q = e.where("vec_id IN (100, 200)").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = pq_topk(enc, q, codebooks, k=5)
    return _r6(out, ["adc_dist"])


def _sql_pq_topk() -> str:
    def fold(terms: str) -> str:
        return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {terms}),"
                " (acc, v) -> acc + v)")

    d2_enc = fold("list_transform(range(1, 17), j -> "
                  "(v.emb[c.sub * 16 + j] - c.cvec[j]) * (v.emb[c.sub * 16 + j] - c.cvec[j]))")
    d_adc = fold("list_transform(range(1, 17), j -> "
                 "(q.qv[en.sub * 16 + j] - cb.cvec[j]) * (q.qv[en.sub * 16 + j] - cb.cvec[j]))")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cb AS (
      SELECT s.sub, e.vec_id AS code,
             e.emb[s.sub * 16 + 1 : s.sub * 16 + 16] AS cvec
      FROM e CROSS JOIN (SELECT CAST(range AS BIGINT) AS sub FROM range(0, 4)) s
      WHERE e.vec_id < 16
    ),
    enc0 AS (
      SELECT v.vec_id, c.sub, c.code, {d2_enc} AS d2
      FROM e v CROSS JOIN cb c
    ),
    enc AS (
      SELECT vec_id, sub, code FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn
        FROM enc0) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, emb AS qv FROM e WHERE vec_id IN (100, 200)),
    adc0 AS (
      SELECT q.q_id, en.vec_id, {d_adc} AS d
      FROM q CROSS JOIN enc en
      JOIN cb ON cb.sub = en.sub AND cb.code = en.code
    ),
    adc AS (SELECT q_id, vec_id, SUM(d) AS adc_dist FROM adc0 GROUP BY 1, 2)
    SELECT q_id, vec_id, rank, ROUND(adc_dist, 6) AS adc_dist
    FROM (SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY adc_dist ASC, vec_id ASC) AS rank
          FROM adc)
    WHERE rank <= 5
    """


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over a synthetic doc link graph (`web.pagerank`, the
    CCNet/RefinedWeb domain-quality prior): 400 nodes, 3 out-links per
    non-dangling node (doc_id % 7 == 0 nodes dangle and redistribute
    uniformly), 3 power iterations at damping 0.85. The oracle replays
    every iteration as chained CTEs with identical arithmetic; 9dp
    rounding absorbs only sum-order ulps."""
    from geo_epic_spark.operators.web import pagerank

    docs = _t(spark, sf_dir, "documents").where("doc_id < 400")
    nodes = docs.select(F.col("doc_id").alias("node"))
    k = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k")
    edges = (
        docs.where("doc_id % 7 != 0")
        .select(F.col("doc_id").alias("src"), k)
        .select("src", ((F.col("src") * 31 + F.col("k") * 17) % 400).alias("dst"))
    )
    out = pagerank(nodes, edges, iterations=3, damping=0.85)
    return out.select("node", F.round("rank", 9).alias("rank"))


def _sql_pagerank() -> str:
    from geo_epic_spark.operators.web import sql_pagerank

    inner = sql_pagerank(
        "SELECT doc_id AS node FROM documents WHERE doc_id < 400",
        """SELECT doc_id AS src, (doc_id * 31 + k.k * 17) % 400 AS dst
           FROM documents, (SELECT CAST(range AS BIGINT) AS k FROM range(1, 4)) k
           WHERE doc_id < 400 AND doc_id % 7 != 0""",
        iterations=3, damping=0.85)
    return f"SELECT node, ROUND(rank, 9) AS rank FROM ({inner})"


def q_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-pixel mosaic compositing (`spatial.mosaic_best_tile`): every
    lattice cell covered by overlapping image tiles picks the
    highest-resolution tile (score = w·h, ties -> lowest i) — map-side
    covering-cell fan-out, one cell-keyed window argmax. The oracle
    regenerates the covering sets with lateral range unnests and replays
    the same (score desc, id asc) pick."""
    from geo_epic_spark.operators.spatial import mosaic_best_tile

    tiles = synth.images_meta_df(spark, 1500)
    out = mosaic_best_tile(
        tiles, res=0.005,
        score=(F.col("w") * F.col("h")).cast("long"),
        tile_id="i", tiebreak="i")
    return out.select("cell", "i", "score")


def _sql_mosaic() -> str:
    return f"""
    WITH t AS ({synth.images_meta_sql(1500)}),
    fan AS (
      SELECT t.i, CAST(t.w AS BIGINT) * t.h AS score,
             rr.r * 4294967296 + cc.c AS cell
      FROM t,
        unnest(range(CAST(floor((t.lat_min + 90.0) / 0.005) AS BIGINT),
                     CAST(floor((t.lat_max + 90.0) / 0.005) AS BIGINT) + 1)) AS rr(r),
        unnest(range(CAST(floor((t.lon_min + 180.0) / 0.005) AS BIGINT),
                     CAST(floor((t.lon_max + 180.0) / 0.005) AS BIGINT) + 1)) AS cc(c)
    )
    SELECT cell, i, score
    FROM (SELECT *, row_number() OVER (
            PARTITION BY cell ORDER BY score DESC, i ASC) AS rk FROM fan)
    WHERE rk = 1
    """


def q_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic image augmentation (`images.udfs.augment_images`):
    each payload gets ONE of hflip/vflip/rot90/center-crop chosen by the
    reproducible hash_unit decision (new salt = new epoch) in a single
    Arrow decode→transform→re-encode stage. The oracled projection is the
    SQL-derivable half — op assignment + output dims (rot90 swaps, crop
    floors at 0.75); pixel semantics (involutions, rotation identity,
    crop bounds, PSNR) are pinned in test_media."""
    from geo_epic_spark.images import full_images_df
    from geo_epic_spark.images.udfs import augment_images

    imgs = full_images_df(spark, 400)
    out = augment_images(imgs, salt=0)
    return out.select("image_id", "aug", "out_w", "out_h")


def _sql_augment() -> str:
    return f"""
    WITH m AS ({synth.images_meta_sql(400)}),
    t AS (
      SELECT image_id, w, h,
             CAST(floor(((((i % 1000003) + 0) * 2654435761) % 2147483647
                         * 48271) % 2147483647 / 2147483647.0 * 4) AS INTEGER) AS a
      FROM m
    )
    SELECT image_id,
           CASE a WHEN 0 THEN 'hflip' WHEN 1 THEN 'vflip'
                  WHEN 2 THEN 'rot90' ELSE 'crop' END AS aug,
           CAST(CASE a WHEN 2 THEN h
                       WHEN 3 THEN greatest(CAST(floor(w * 0.75) AS INTEGER), 1)
                       ELSE w END AS INTEGER) AS out_w,
           CAST(CASE a WHEN 2 THEN w
                       WHEN 3 THEN greatest(CAST(floor(h * 0.75) AS INTEGER), 1)
                       ELSE h END AS INTEGER) AS out_h
    FROM t
    """


def q_track_encounters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory encounter detection (`trajectory.track_encounters`):
    track pairs within 0.1° at |Δseq| <= 1 — cell equi-join with the
    distance/seq-window/ordering predicates inside the condition, one
    (a, b) aggregate (contact count + closest approach). Oracle: the
    brute-force pair join with identical arithmetic; min_d2 is exact
    mul/add, so no rounding is needed on it either — hash-exact."""
    from geo_epic_spark.operators.trajectory import track_encounters

    tracks = synth.tracks_df(spark, 200, 40)
    return track_encounters(tracks, radius=0.1, seq_tol=1)


def _sql_track_encounters() -> str:
    return f"""
    WITH t AS ({synth.tracks_sql(200, 40)})
    SELECT a.track_id AS ta, b.track_id AS tb,
           COUNT(*) AS n_contacts,
           MIN((a.lon - b.lon) * (a.lon - b.lon)
               + (a.lat - b.lat) * (a.lat - b.lat)) AS min_d2
    FROM t a JOIN t b
      ON a.track_id < b.track_id
     AND abs(a.seq - b.seq) <= 1
     AND (a.lon - b.lon) * (a.lon - b.lon)
         + (a.lat - b.lat) * (a.lat - b.lat) <= 0.1 * 0.1
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """All queries, in the order the correctness check runs them.

    The external correctness check that consumes this registry runs
    exactly the first 50 entries, so every SURVEY.md §2 operator family
    (and every first-class LLM-pipeline component) must appear among
    them: the head carries at least one row per family, and the tail
    holds only queries whose family is already represented in the head.
    Every entry, head or tail, has an ``oracle_sql()`` mirror."""
    return {
        # spatial flagship path (J1/J2/J3/J5/J6, S4, S10) — r5 rotation:
        # J5 via the salted skew variant, J1 via the k=3 variant
        "q_salted_pip": q_salted_pip,
        "q_knn_k3": q_knn_k3,
        "q_zonal_stats": q_zonal_stats,
        "q_rasterize": q_rasterize,
        # media payloads (§2.10a/d + audio/video)
        "q_audio_features": q_audio_features,
        "q_video_frames": q_video_frames,
        "q_image_invariants": q_image_invariants,
        "q_phash_dedup": q_phash_dedup,
        # sources / resume / layout / CRS / federated / streaming-exec
        "q_fwf_roundtrip": q_fwf_roundtrip,
        "q_crs_project": q_crs_project,
        "q_resume_metrics": q_resume_metrics,   # S9+P3+A8: run_with_resume end-to-end
        "q_sda_scan": q_sda_scan,               # S6 partitioned REST/SQL scan (new r4)
        "q_opendap_scan": q_opendap_scan,       # S7 partitioned array scan (new r4)
        "q_gee_scan": q_gee_scan,               # S8 collection scan (new r4)
        "q_stream_windowed": q_stream_windowed,
        "q_stateful_dedup": q_stateful_dedup,   # applyInPandasWithState path
        # weather time-series (A1/W1/W2, J9, J10, J8, W4/P7) — r5: the
        # composed §3.2 lifecycle carries the whole normals chain + ws fill
        "q_weather_pipeline": q_weather_pipeline,
        "q_heat_units": q_heat_units,
        "q_pair_seasons": q_pair_seasons,
        "q_missing_dates": q_missing_dates,
        "q_interpolate": q_interpolate,
        # relational soil pipeline (A2/A3-A4/J4/P5/W10) — r5 rotation:
        # grouped-percentile via the envelope, J4 via the bucketed layout
        "q_dominant_component": q_dominant_component,
        "q_percentile_envelope": q_percentile_envelope,
        "q_bucketed_join": q_bucketed_join,
        "q_select_range": q_select_range,
        # driver-table relational windows / sessions
        "q_rolling_median_events": q_rolling_median_events,
        "q_sessionize": q_sessionize,           # gap sessionization (W-family)
        "q_semantic_dedup": q_semantic_dedup,   # SemDeDup
        # documents / embeddings (dedup + similarity + text analysis)
        "q_exact_dedup_docs": q_exact_dedup_docs,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_minhash_lsh": q_minhash_lsh,
        "q_simhash_pairs": q_simhash_pairs,
        "q_embedding_near_dup": q_embedding_near_dup,
        "q_dedup_clusters": q_dedup_clusters,
        "q_token_stats": q_token_stats,
        "q_repetition": q_repetition,           # Gopher-style repetition signals
        "q_redact_pii": q_redact_pii,           # PII scrub (map-only)
        "q_curation": q_curation,               # composed pipeline (incl. lang+quality)
        "q_cosine_topk": q_cosine_topk,
        "q_pq_topk": q_pq_topk,               # r5 rotation: ANN scale path
        # phenology / smoothing / validation / schedule ops (W5-W9, P2, §2.6)
        "q_dedup_spans": q_dedup_spans,          # r5 rotation: span-level hygiene
        "q_smooth_savgol": q_smooth_savgol,      # r5 rotation: W6 method 1
        "q_count_seasons": q_count_seasons,
        "q_harmonic_fit": q_harmonic_fit,        # r5 rotation: W8 fit 2
        "q_validate_dly": q_validate_dly,        # r5 rotation: range validators
        "q_required_columns": q_required_columns,  # P2 (new r4)
        "q_registry_hook": q_registry_hook,      # §2.9 extension point
        "q_outer_coalesce": q_outer_coalesce,
        "q_envelope_clip": q_envelope_clip,
        "q_opc_append": q_opc_append,
        # --- tail: family already represented above (safe under any cap) ---
        "q_tile_assign": q_tile_assign,             # J5 base: q_salted_pip (r5 rot.)
        "q_soil_projection": q_soil_projection,     # P1+J4: q_bucketed_join (r5 rot.)
        "q_double_logistic": q_double_logistic,     # W8 fit 1: q_harmonic_fit (r5 rot.)
        "q_nearest_grid": q_nearest_grid,           # J1 k=1: q_knn_k3 (r5 rot.)
        "q_monthly_normals": q_monthly_normals,     # A1: inside q_weather_pipeline
        "q_bbox_clip": q_bbox_clip,                 # P6: q_salted_pip
        "q_asym_gaussian": q_asym_gaussian,         # W8: q_harmonic_fit
        "q_lai_profile": q_lai_profile,             # W4: q_interpolate
        "q_top_order_per_customer": q_top_order_per_customer,  # A2 argmax
        "q_customers_without_orders": q_customers_without_orders,  # J8 anti
        "q_next_order_asof": q_next_order_asof,     # J10: q_pair_seasons
        "q_union_dedup": q_union_dedup,             # §2.6: q_opc_append
        "q_brand_revenue": q_brand_revenue,         # J4 star: q_soil_projection
        "q_pricing_summary": q_pricing_summary,     # multi-agg: q_weather_pipeline
        "q_depth_median": q_depth_median,           # A3: q_percentile_envelope (r5)
        "q_local_supplier_volume": q_local_supplier_volume,  # J4 star
        "q_audio_resample": q_audio_resample,       # audio: q_audio_features
        "q_opc_validate": q_opc_validate,           # W5: q_validate_dly (r5 rot.)
        "q_resume_pending": q_resume_pending,       # P3: subsumed by q_resume_metrics
        "q_lang_id": q_lang_id,                     # in q_curation lang stage
        "q_quality_scores": q_quality_scores,       # in q_curation quality stage
        "q_winnow_fingerprints": q_winnow_fingerprints,  # text: q_token_stats
        "q_windowed_events": q_windowed_events,     # windowed: q_stream_windowed
        "q_edit_crop_season": q_edit_crop_season,   # J10: q_pair_seasons
        "q_knn_haversine": q_knn_haversine,         # J1 haversine metric path
        "q_cosine_topk_arrow": q_cosine_topk_arrow, # ANN Arrow/BLAS path
        "q_pruned_scan": q_pruned_scan,             # S3 column-pruned layer scan
        # round-4 training-pipeline layout ops (new family extensions; the
        # head 50 already carries every §2 family, so these ride the tail
        # and are verified by the same harness in CORRECTNESS_LOCAL)
        "q_stratified_sample": q_stratified_sample,  # reproducible source mixing
        "q_shard_tokens": q_shard_tokens,            # distributed prefix-scan sharding
        "q_pack_greedy": q_pack_greedy,              # next-fit sequence packing
        "q_vocab_bigrams": q_vocab_bigrams,          # corpus vocab top-k
        "q_quantize_embeddings": q_quantize_embeddings,  # int8 ANN quantization
        "q_phash_near_dup": q_phash_near_dup,        # banded hamming image dedup
        "q_smooth_gaussian": q_smooth_gaussian,      # W6 method 2: q_smooth_savgol
        "q_boilerplate": q_boilerplate,              # CCNet line-level removal
        "q_sample_to_mix": q_sample_to_mix,          # exact domain-mix blend
        "q_aspect_buckets": q_aspect_buckets,        # aspect-ratio batching
        "q_chunk_docs": q_chunk_docs,                # overlapping token windows
        "q_bigram_lm": q_bigram_lm,                  # CCNet-style LM perplexity
        "q_image_quality": q_image_quality,          # low-info image filter
        "q_stream_sessionize": q_stream_sessionize,  # stateful streaming sessions
        "q_shuffle_rows": q_shuffle_rows,            # deterministic global shuffle
        "q_zorder_layout": q_zorder_layout,          # Morton spatial layout key
        "q_zorder_scan": q_zorder_scan,              # z-layout write+prune roundtrip (r5)
        "q_split_assign": q_split_assign,            # train/val/test hash bands
        "q_decontaminate": q_decontaminate,          # n-gram overlap: q_dedup_spans
        "q_normalize_text": q_normalize_text,        # mojibake/unicode cleanup
        "q_url_dedup": q_url_dedup,                  # URL canonicalization dedup
        "q_bm25_topk": q_bm25_topk,                  # BM25 lexical retrieval
        "q_polygon_stats": q_polygon_stats,          # shoelace area/centroid
        "q_cell_rollup": q_cell_rollup,              # multi-res cell pyramid
        "q_profile_docs": q_profile_docs,            # one-pass table profile
        "q_skew_report": q_skew_report,              # shuffle-key skew report
        "q_bpe_train": q_bpe_train,                  # BPE tokenizer training
        "q_overlay_area": q_overlay_area,            # polygon-overlay area join
        "q_focal_stats": q_focal_stats,              # 3x3 focal map algebra
        "q_slope_aspect": q_slope_aspect,            # Horn slope + aspect octant
        "q_radius_join": q_radius_join,              # within-distance join
        "q_density_cluster": q_density_cluster,      # grid-density DBSCAN-lite
        "q_shard_export": q_shard_export,            # webdataset tar shards
        "q_regrid_bilinear": q_regrid_bilinear,      # raster resample
        "q_merge_upsert": q_merge_upsert,            # MERGE INTO upsert
        "q_adaptive_cells": q_adaptive_cells,        # quadtree skew tiling
        "q_trajectory": q_trajectory,                # per-track GPS analytics
        "q_crossmodal_dedup": q_crossmodal_dedup,    # image+caption joint dedup
        "q_hex_assign": q_hex_assign,                # H3-style hex cell binning
        "q_stream_join": q_stream_join,              # stream-stream interval join
        "q_stream_join_outer": q_stream_join_outer,  # left-outer variant (r5)
        "q_convex_hull": q_convex_hull,              # per-group monotone-chain hull
        "q_idw": q_idw,                              # inverse-distance interpolation
        "q_geo_pipeline": q_geo_pipeline,            # composed spatial curation
        "q_change_detect": q_change_detect,          # temporal raster change map
        "q_ivf_topk": q_ivf_topk,                    # IVF ANN: q_pq_topk (r5 rot.)
        "q_pagerank": q_pagerank,                    # link-graph quality prior
        "q_mosaic": q_mosaic,                        # best-pixel compositing
        "q_augment": q_augment,                      # deterministic augmentation
        "q_track_encounters": q_track_encounters,    # trajectory proximity join
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q_tile_assign": _sql_tile_assign(),
        "q_nearest_grid": _sql_nearest_grid(),
        "q_zonal_stats": _sql_zonal_stats(),
        "q_rasterize": _sql_rasterize(),
        "q_monthly_normals": _sql_monthly_normals(),
        "q_weather_pipeline": _sql_weather_pipeline(),
        "q_heat_units": _sql_heat_units(),
        "q_pair_seasons": _sql_pair_seasons(),
        "q_missing_dates": _sql_missing_dates(),
        "q_interpolate": _sql_interpolate(),
        "q_dominant_component": _sql_dominant_component(),
        "q_depth_median": _sql_depth_median(),
        "q_soil_projection": _sql_soil_projection(),
        "q_select_range": _sql_select_range(),
        "q_pricing_summary": _sql_pricing_summary(),
        "q_top_order_per_customer": _sql_top_order_per_customer(),
        "q_next_order_asof": _sql_next_order_asof(),
        "q_customers_without_orders": _sql_customers_without_orders(),
        "q_union_dedup": _sql_union_dedup(),
        "q_percentile_envelope": _sql_percentile_envelope(),
        "q_rolling_median_events": _sql_rolling_median_events(),
        "q_exact_dedup_docs": _sql_exact_dedup_docs(),
        "q_ngram_jaccard": _sql_ngram_jaccard(),
        "q_token_stats": _sql_token_stats(),
        "q_knn_k3": _sql_knn_k3(),
        "q_smooth_savgol": _sql_smooth_savgol(),
        "q_validate_dly": _sql_validate_dly(),
        "q_outer_coalesce": _sql_outer_coalesce(),
        "q_envelope_clip": _sql_envelope_clip(),
        "q_lai_profile": _sql_lai_profile(),
        "q_lang_id": _sql_lang_id(),
        "q_cosine_topk": _sql_cosine_topk(),
        "q_opc_append": _sql_opc_append(),
        "q_winnow_fingerprints": _sql_winnow_fingerprints(),
        "q_dedup_clusters": _sql_dedup_clusters(),
        "q_edit_crop_season": _sql_edit_crop_season(),
        "q_windowed_events": _sql_windowed_events(),
        "q_local_supplier_volume": _sql_local_supplier_volume(),
        "q_brand_revenue": _sql_brand_revenue(),
        "q_bbox_clip": _sql_bbox_clip(),
        "q_quality_scores": _sql_quality_scores(),
        "q_ivf_topk": _sql_ivf_topk(),
        "q_count_seasons": _sql_count_seasons(),
        "q_double_logistic": _sql_double_logistic(),
        "q_harmonic_fit": _sql_harmonic_fit(),
        "q_asym_gaussian": _sql_asym_gaussian(),
        "q_minhash_lsh": _sql_minhash_lsh(),
        "q_simhash_pairs": _sql_simhash_pairs(),
        "q_embedding_near_dup": _sql_embedding_near_dup(),
        "q_phash_dedup": _sql_phash_dedup(),
        "q_image_invariants": _sql_image_invariants(),
        "q_audio_features": _sql_audio_features(),
        "q_audio_resample": _sql_audio_resample(),
        "q_video_frames": _sql_video_frames(),
        "q_fwf_roundtrip": _sql_fwf_roundtrip(),
        "q_crs_project": _sql_crs_project(),
        "q_resume_pending": _sql_resume_pending(),
        "q_bucketed_join": _sql_bucketed_join(),
        "q_stream_windowed": _sql_stream_windowed(),
        "q_opc_validate": _sql_opc_validate(),
        "q_registry_hook": _SQL_REGISTRY_HOOK,
        "q_resume_metrics": _sql_resume_metrics(),
        "q_salted_pip": _sql_salted_pip(),
        "q_semantic_dedup": _sql_semantic_dedup(),
        "q_repetition": _sql_repetition(),
        "q_redact_pii": _sql_redact_pii(),
        "q_knn_haversine": _sql_knn_haversine(),
        "q_cosine_topk_arrow": _sql_cosine_topk(),  # path equivalence proof
        "q_stateful_dedup": _sql_stateful_dedup(),
        "q_sessionize": _sql_sessionize(),
        "q_curation": _sql_curation(),
        "q_required_columns": _SQL_REQUIRED_COLUMNS,
        "q_smooth_gaussian": _sql_smooth_gaussian(),
        "q_pruned_scan": _SQL_PRUNED_SCAN,
        "q_stratified_sample": _sql_stratified_sample(),
        "q_shard_tokens": _sql_shard_tokens(),
        "q_pack_greedy": _sql_pack_greedy(),
        "q_vocab_bigrams": _sql_vocab_bigrams(),
        "q_quantize_embeddings": _sql_quantize_embeddings(),
        "q_sda_scan": _sql_sda_scan(),
        "q_opendap_scan": _sql_opendap_scan(),
        "q_gee_scan": _sql_gee_scan(),
        "q_phash_near_dup": _sql_phash_near_dup(),
        "q_decontaminate": _sql_decontaminate(),
        "q_boilerplate": _sql_boilerplate(),
        "q_sample_to_mix": _sql_sample_to_mix(),
        "q_aspect_buckets": _sql_aspect_buckets(),
        "q_chunk_docs": _sql_chunk_docs(),
        "q_bigram_lm": _sql_bigram_lm(),
        "q_image_quality": _sql_image_quality(),
        "q_stream_sessionize": _sql_stream_sessionize(),
        "q_shuffle_rows": _sql_shuffle_rows(),
        "q_zorder_layout": _sql_zorder_layout(),
        "q_zorder_scan": _sql_zorder_scan(),
        "q_split_assign": _sql_split_assign(),
        "q_dedup_spans": _sql_dedup_spans(),
        "q_normalize_text": _sql_normalize_text(),
        "q_url_dedup": _sql_url_dedup(),
        "q_bm25_topk": _sql_bm25_topk(),
        "q_polygon_stats": _sql_polygon_stats(),
        "q_cell_rollup": _sql_cell_rollup(),
        "q_profile_docs": _sql_profile_docs(),
        "q_skew_report": _sql_skew_report(),
        "q_bpe_train": _sql_bpe_train(),
        "q_overlay_area": _sql_overlay_area(),
        "q_focal_stats": _sql_focal_stats(),
        "q_slope_aspect": _sql_slope_aspect(),
        "q_radius_join": _sql_radius_join(),
        "q_density_cluster": _sql_density_cluster(),
        "q_shard_export": _sql_shard_export(),
        "q_regrid_bilinear": _sql_regrid_bilinear(),
        "q_merge_upsert": _sql_merge_upsert(),
        "q_adaptive_cells": _sql_adaptive_cells(),
        "q_trajectory": _sql_trajectory(),
        "q_crossmodal_dedup": _sql_crossmodal_dedup(),
        "q_hex_assign": _sql_hex_assign(),
        "q_stream_join": _sql_stream_join(),
        "q_stream_join_outer": _sql_stream_join_outer(),
        "q_convex_hull": _sql_convex_hull(),
        "q_idw": _sql_idw(),
        "q_geo_pipeline": _sql_geo_pipeline(),
        "q_change_detect": _sql_change_detect(),
        "q_pq_topk": _sql_pq_topk(),
        "q_pagerank": _sql_pagerank(),
        "q_mosaic": _sql_mosaic(),
        "q_augment": _sql_augment(),
        "q_track_encounters": _sql_track_encounters(),
    }
