"""Tile placement + cell covering for the image input table (SURVEY §2.10).

The input_hint table carries only (image_id, w, h); geo placement is
DERIVED: a deterministic hash of the id anchors the tile on the globe
(analog of the reference's lattice construction,
`geoEpic/weather/download_daily.py:62-70`), and each tile's covering cell
set feeds the spatial joins. Both are pure Column arithmetic — no UDF, no
shuffle, fully codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_epic_spark import cells

# default AOI for hash-anchored placement (must match synth.AOI so derived
# placement of synthesized ids reproduces their stored bounds)
DEG_PER_PX = 1e-4


def tile_bounds(
    df: DataFrame,
    image_id: str = "image_id",
    w: str = "w",
    h: str = "h",
    lon0: float = -100.0,
    lat0: float = 40.0,
    aoi_w: float = 5.0,
    aoi_h: float = 3.0,
) -> DataFrame:
    """Add (lon_min, lat_min, lon_max, lat_max): anchor from xxhash64 of the
    id folded into the AOI, extent = pixel dims × DEG_PER_PX."""
    hx = F.pmod(F.xxhash64(F.col(image_id)), F.lit(1 << 30)) / F.lit(float(1 << 30))
    hy = F.pmod(F.xxhash64(F.col(image_id), F.lit(1)), F.lit(1 << 30)) / F.lit(
        float(1 << 30)
    )
    lon_min = F.lit(lon0) + hx * F.lit(aoi_w)
    lat_min = F.lit(lat0) + hy * F.lit(aoi_h)
    return (
        df.withColumn("lon_min", lon_min)
        .withColumn("lat_min", lat_min)
        .withColumn("lon_max", F.col("lon_min") + F.col(w) * F.lit(DEG_PER_PX))
        .withColumn("lat_max", F.col("lat_min") + F.col(h) * F.lit(DEG_PER_PX))
    )


def cells_for_bounds(df: DataFrame, res: float, out: str = "cell_ids") -> DataFrame:
    """array<long> covering set per tile (analog of climate-grid id
    assignment, `weather/nldas_ws_gee.py:152-167`)."""
    return df.withColumn(
        out,
        cells.cover_bbox(
            F.col("lon_min"), F.col("lat_min"), F.col("lon_max"), F.col("lat_max"), res
        ),
    )


def tile_center(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "cx", (F.col("lon_min") + F.col("lon_max")) / 2
    ).withColumn("cy", (F.col("lat_min") + F.col("lat_max")) / 2)
