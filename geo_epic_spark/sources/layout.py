"""Z-ordered storage layout: write the image table sorted/partitioned by the
Morton key and scan it with bbox range pruning.

This is the storage half of `cells.zorder_key` (the key itself is oracled by
q_zorder_layout; PLANS.md "Z-order layout key"): at 10^12 rows the win of the
key is not the key — it is that a table WRITTEN in key order turns every bbox
query into (a) directory-partition pruning on a coarse key prefix (the
Iceberg `partition by truncate(z)` analog) and (b) parquet row-group pruning
on the min/max footer stats of the fine key, so the scan materializes ~the
bbox's rows instead of the planet's. `plans.checks.scan_metrics` turns that
claim into an executable assertion (tests/test_layout.py pins the measured
files-read / rows-read reduction vs an unsorted layout of the same data).

Reference parity: the reference keeps per-site files named by location
(`geoEpic/weather/download_daily.py` writes one DLY per lattice cell) — the
"locality by filename" idea; this module is the columnar-at-scale form.
"""

from __future__ import annotations

import numpy as np
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_epic_spark.cells import np_zorder_key, zorder_key

__all__ = ["write_zorder_layout", "bbox_scan", "zrange_for_bbox"]

# The layout parameters a scan must reuse, written next to the data as a
# one-row JSON table. Spark's file reader skips ``_``-prefixed paths, so the
# sidecar never shows up as rows of the layout itself.
LAYOUT_META = "_layout"
LAYOUT_SCHEMA = "lon string, lat string, bits int, z_col string, partition_prefix_bits int"


def write_zorder_layout(
    df: DataFrame,
    path: str,
    lon: str = "cx",
    lat: str = "cy",
    bits: int = 16,
    n_files: int = 32,
    z_col: str = "z",
    partition_prefix_bits: int = 0,
) -> None:
    """Write ``df`` laid out by the Morton key: stamp ``z_col`` (map-only
    Column arithmetic), range-partition into ``n_files`` contiguous key
    ranges, sort within each, write parquet. ONE range Exchange total —
    the same shuffle budget as any repartition — after which every file
    (and every 128 MB row group inside it) covers a contiguous z interval,
    so the footer min/max stats prune bbox scans.

    ``partition_prefix_bits`` > 0 additionally directory-partitions by the
    top ``partition_prefix_bits`` bits of the key (``zp = z >> (2*bits -
    p)``) — the Iceberg ``truncate(z)``-partition analog: bbox queries then
    prune whole directories at PLANNING time (numFiles drops, not just
    rows), and per-partition lineage/metrics (operators/resume.py) key on
    ``zp``. Choose p against the DATA's spatial extent, not the globe: the
    prefix must actually vary over the table (for a planetary 10^12-row
    table p=8-12 gives 256-4096 directories; a single-region table needs a
    deeper prefix — a 5x3 deg AOI only starts splitting around p=14-16,
    since the top Morton bits are constant across it). Rule of thumb: pick
    p so distinct(zp) lands in the hundreds.
    """
    z = zorder_key(F.col(lon), F.col(lat), bits=bits)
    out = df.withColumn(z_col, z)
    if partition_prefix_bits:
        shift = 2 * bits - partition_prefix_bits
        out = out.withColumn("zp", F.shiftrightunsigned(F.col(z_col), shift))
        (
            out.repartitionByRange(n_files, z_col)
            .sortWithinPartitions(z_col)
            .write.mode("overwrite")
            .partitionBy("zp")
            .parquet(path)
        )
    else:
        (
            out.repartitionByRange(n_files, z_col)
            .sortWithinPartitions(z_col)
            .write.mode("overwrite")
            .parquet(path)
        )
    layout = dict(lon=lon, lat=lat, bits=bits, z_col=z_col,
                  partition_prefix_bits=partition_prefix_bits)
    df.sparkSession.createDataFrame([layout], LAYOUT_SCHEMA).coalesce(1).write.mode(
        "overwrite").json(path + "/" + LAYOUT_META)


def zrange_for_bbox(
    lon0: float, lat0: float, lon1: float, lat1: float, bits: int = 16
) -> tuple[int, int]:
    """[zmin, zmax] containing every point of the bbox: the Morton key is
    ``spread(qc) + 2*spread(qr)`` with bit-disjoint spreads, and ``spread``
    is order-preserving, so z is monotone in EACH quantized coordinate —
    every in-bbox point keys between the two corners. The interval also
    covers out-of-bbox staircase cells; the residual lon/lat conjuncts
    remove those rows AFTER the stats prune (correctness never depends on
    the prune). A production engine would split the interval at its BIGMIN
    discontinuities for tighter pruning; one interval already captures the
    locality win and keeps the scan predicate a single BETWEEN."""
    zlo = int(np_zorder_key(np.array([lon0]), np.array([lat0]), bits=bits)[0])
    zhi = int(np_zorder_key(np.array([lon1]), np.array([lat1]), bits=bits)[0])
    return zlo, zhi


def bbox_scan(
    spark: SparkSession,
    path: str,
    lon0: float,
    lat0: float,
    lon1: float,
    lat1: float,
    lon: str | None = None,
    lat: str | None = None,
    bits: int | None = None,
    z_col: str | None = None,
    partition_prefix_bits: int | None = None,
) -> DataFrame:
    """Bbox query over a z-laid-out table: ``z BETWEEN corner-range`` (the
    predicate the parquet stats prune on — and, when the layout was written
    with a prefix partition, ``zp`` range for directory pruning) AND the
    exact lon/lat box. Results are identical to filtering the raw table;
    only the rows *materialized* differ (see scan_metrics).

    ``lon``, ``lat``, ``bits``, ``z_col`` and ``partition_prefix_bits`` come
    from the layout sidecar ``write_zorder_layout`` wrote. A value passed
    here must equal the written one: a different ``bits`` or prefix would
    compute the wrong key range and silently drop in-bbox rows, so a
    mismatch, or a path without the sidecar, raises ``ValueError``."""
    try:
        written = spark.read.schema(LAYOUT_SCHEMA).json(path + "/" + LAYOUT_META).collect()
    except AnalysisException as e:
        raise ValueError(f"{path} has no {LAYOUT_META} sidecar: "
                         "write it with write_zorder_layout") from e
    if len(written) != 1:
        raise ValueError(f"{path}/{LAYOUT_META} holds {len(written)} rows, not 1")
    layout = written[0].asDict()
    given = dict(lon=lon, lat=lat, bits=bits, z_col=z_col,
                 partition_prefix_bits=partition_prefix_bits)
    for name, value in given.items():
        if value is not None and value != layout[name]:
            raise ValueError(f"bbox_scan {name}={value!r} but {path} was written "
                             f"with {name}={layout[name]!r}")
    lon, lat, bits, z_col = layout["lon"], layout["lat"], layout["bits"], layout["z_col"]
    prefix = layout["partition_prefix_bits"]
    zlo, zhi = zrange_for_bbox(lon0, lat0, lon1, lat1, bits=bits)
    df = spark.read.parquet(path)
    cond = (
        (F.col(z_col) >= zlo) & (F.col(z_col) <= zhi)
        & (F.col(lon) >= lon0) & (F.col(lon) <= lon1)
        & (F.col(lat) >= lat0) & (F.col(lat) <= lat1)
    )
    if prefix:
        shift = 2 * bits - prefix
        cond = cond & (F.col("zp") >= (zlo >> shift)) & (F.col("zp") <= (zhi >> shift))
    return df.filter(cond)
