"""Federated-scan tests (S6/S7/S8, sources/federated.py): wire-format
parsing, shard-partitioning completeness, string->numeric coercion, nearest
snap, chunking, GEE reducers, and the map-only plan shape."""

import json
import math

import numpy as np
import pytest

from geo_epic_spark.sources.federated import (
    OPENDAP_VARS,
    SyntheticGEETransport,
    SyntheticOpendapTransport,
    SyntheticSDATransport,
    _eval_band_formula,
    _mode_smallest,
    opendap_grid,
    parse_sda_response,
    read_gee_collection,
    read_opendap,
    read_sda,
)

SDA_SCHEMA = "mukey bigint, cokey bigint, comppct_r double"
SDA_TEMPLATE = (
    "SELECT mukey, cokey, comppct_r FROM component "
    "WHERE mukey >= {lo} AND mukey < {hi}"
)


# ---------------------------------------------------------------------------
# S6 — SDA
# ---------------------------------------------------------------------------

def test_parse_sda_wire_format():
    text = json.dumps({"Table": [["a", "b"], ["1", "x"], ["2", "y"]]})
    pdf = parse_sda_response(text)
    assert list(pdf.columns) == ["a", "b"]
    assert pdf["a"].tolist() == ["1", "2"]  # all strings on the wire


def test_parse_sda_empty_shard_is_none():
    # the service's "no data" shape: an empty shard, not an error
    assert parse_sda_response(json.dumps({})) is None
    assert parse_sda_response(json.dumps({"Table": [["a"]]})) is None


def test_sda_shards_partition_exactly(spark):
    """Union over N shards == one full-range query: no row lost or
    duplicated at shard boundaries (the JDBC partitioned-read contract)."""
    t = SyntheticSDATransport(n_mukeys=10, comps_per=3)
    sharded = read_sda(
        spark, SDA_TEMPLATE, schema=SDA_SCHEMA, partition_column="mukey",
        lower=100000, upper=100010, num_partitions=4, transport=t,
    )
    single = read_sda(
        spark, SDA_TEMPLATE, schema=SDA_SCHEMA, partition_column="mukey",
        lower=100000, upper=100010, num_partitions=1, transport=t,
    )
    a = sorted(map(tuple, sharded.collect()))
    b = sorted(map(tuple, single.collect()))
    assert len(a) == 30 and a == b


def test_sda_pushdown_executes_remotely(spark):
    """The shard WHERE runs on the 'server': a range covering no mukeys
    yields zero rows without any client-side filtering."""
    t = SyntheticSDATransport(n_mukeys=10)
    out = read_sda(
        spark, SDA_TEMPLATE, schema=SDA_SCHEMA, partition_column="mukey",
        lower=999000, upper=999010, num_partitions=2, transport=t,
    )
    assert out.count() == 0


def test_sda_coerce_fill_zero(spark):
    """Junk numerics on the wire: NULL by default, 0 under the reference's
    to_numeric(errors='coerce').fillna(0) mode (`soil/sda.py:168-169`)."""

    def junk_transport(request):
        return json.dumps({"Table": [
            ["mukey", "cokey", "comppct_r"],
            ["100000", "500000", "not-a-number"],
        ]})

    kw = dict(schema=SDA_SCHEMA, partition_column="mukey", lower=0, upper=1,
              num_partitions=1, transport=junk_transport)
    row_null = read_sda(spark, SDA_TEMPLATE, **kw).collect()[0]
    assert row_null.comppct_r is None
    row_zero = read_sda(spark, SDA_TEMPLATE, coerce_fill_zero=True,
                        **kw).collect()[0]
    assert row_zero.comppct_r == 0.0


def test_sda_template_requires_bounds(spark):
    with pytest.raises(ValueError, match="bound slots"):
        read_sda(spark, "SELECT 1", schema="x bigint",
                 partition_column="k", lower=0, upper=1, num_partitions=1,
                 transport=lambda r: "{}")


def test_sda_scan_plan_is_map_only(spark):
    """Exactly one Exchange (the N-row shard spec); the fetched data itself
    never shuffles — the federated scan's 100TB-shape invariant."""
    t = SyntheticSDATransport(n_mukeys=10)
    df = read_sda(
        spark, SDA_TEMPLATE, schema=SDA_SCHEMA, partition_column="mukey",
        lower=100000, upper=100010, num_partitions=4, transport=t,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1


# ---------------------------------------------------------------------------
# S7 — OPeNDAP
# ---------------------------------------------------------------------------

def test_opendap_snap_matches_bruteforce(spark):
    """read_opendap snaps each point to its nearest grid cell, clipped to
    the grid: the transport echoes the cell as lat_idx*1000+lon_idx, which
    must equal the brute-force argmin over the grid's coordinate vectors."""
    lats = 25.0 + 0.125 * np.arange(40)
    lons = -125.0 + 0.125 * np.arange(30)
    coords = [25.0, 25.06, 25.063, 29.874, 24.0, 40.0, 27.31]
    pts = spark.createDataFrame(
        [(i, lat, -125.0 + (lat - 25.0) * 0.7) for i, lat in enumerate(coords)],
        "point_id bigint, lat double, lon double",
    )

    def cell_transport(request):
        n = request["t_hi"] - request["t_lo"]
        return json.dumps([request["lat_idx"] * 1000 + request["lon_idx"]] * n)

    grid = opendap_grid(25.0, -125.0, 0.125, len(lats), len(lons), "1979-01-01")
    got = {
        r.point_id: int(r.ws)
        for r in read_opendap(spark, grid, pts, ["ws"], start_day=0, n_days=1,
                              transport=cell_transport).collect()
    }
    for p in pts.collect():
        want = (int(np.argmin(np.abs(lats - p.lat))) * 1000
                + int(np.argmin(np.abs(lons - p.lon))))
        assert got[p.point_id] == want, (p, got[p.point_id])


def test_opendap_chunks_cover_range_exactly(spark):
    grid = opendap_grid(25.0, -125.0, 0.125, 40, 40, "1979-01-01")
    pts = spark.createDataFrame(
        [(0, 25.3, -124.1), (1, 26.9, -122.2)],
        "point_id bigint, lat double, lon double",
    )
    out = read_opendap(
        spark, grid, pts, ["ws"], start_day=10, n_days=25,
        transport=SyntheticOpendapTransport(64), chunk_days=7,
    ).toPandas()
    # 2 points x 25 days, each day exactly once per point (no chunk overlap)
    assert len(out) == 50
    per = out.groupby("point_id")["day_idx"].agg(["min", "max", "nunique"])
    assert (per["min"] == 10).all() and (per["max"] == 34).all()
    assert (per["nunique"] == 25).all()


def test_opendap_values_deterministic_and_rounded(spark):
    grid = opendap_grid(25.0, -125.0, 0.125, 40, 40, "1979-01-01")
    pts = spark.createDataFrame([(7, 25.0, -125.0)],
                                "point_id bigint, lat double, lon double")
    out = read_opendap(
        spark, grid, pts, ["tmax"], start_day=0, n_days=3,
        transport=SyntheticOpendapTransport(64), chunk_days=10,
    ).toPandas().sort_values("day_idx")
    mult, add, rng = OPENDAP_VARS["tmax"]
    # cell 0 (snap of the exact origin), keys 0,1,2
    want = [round(((0 * 64 + t) * mult + add) % rng / 100.0, 2)
            for t in range(3)]
    assert out["tmax"].tolist() == want


def test_opendap_rejects_unknown_variable(spark):
    grid = opendap_grid(25.0, -125.0, 0.125, 4, 4, "1979-01-01")
    pts = spark.createDataFrame([(0, 25.0, -125.0)],
                                "point_id bigint, lat double, lon double")
    with pytest.raises(ValueError, match="unknown OPeNDAP variable"):
        read_opendap(spark, grid, pts, ["nope"], start_day=0, n_days=1,
                     transport=SyntheticOpendapTransport())


# ---------------------------------------------------------------------------
# S8 — GEE
# ---------------------------------------------------------------------------

COLL = {"id": "SYN/X", "cadence": 2, "bands": ["red", "nir"],
        "variables": {"ndvi": "(nir - red) / (nir + red + 1.0)"}}


def test_gee_mode_tie_breaks_smallest():
    assert _mode_smallest(np.array([2.0, 1.0, 2.0, 1.0, 3.0])) == 1.0
    assert _mode_smallest(np.array([5.0])) == 5.0


def test_gee_formula_whitelist():
    env = {"nir": np.array([1.0]), "red": np.array([0.5])}
    assert _eval_band_formula("nir - red", env)[0] == 0.5
    with pytest.raises(ValueError, match="unknown band"):
        _eval_band_formula("nir - blue", env)
    with pytest.raises(ValueError, match="unknown band"):
        _eval_band_formula("__import__('os')", env)


def test_gee_cadence_filters_days(spark):
    aoi = {"lon_lo": -99.9, "lon_hi": -99.7, "lat_lo": 40.1, "lat_hi": 40.3}
    out = read_gee_collection(
        spark, COLL, aoi, date_lo=0, date_hi=10,
        transport=SyntheticGEETransport(), chunk_days=3,
    ).toPandas().sort_values("day")
    assert out["day"].tolist() == [0, 2, 4, 6, 8]  # cadence-2 images only


def test_gee_point_aoi_uses_first_reducer(spark):
    t = SyntheticGEETransport()
    point = {"lon": -99.81, "lat": 40.22}
    out = read_gee_collection(
        spark, COLL, point, date_lo=0, date_hi=2,
        transport=t, chunk_days=4,
    ).toPandas()
    # expected: formula at the single containing pixel, day 0
    px = int(math.floor((point["lon"] + 100.0) / 0.05))
    py = int(math.floor((point["lat"] - 40.0) / 0.05))
    pix = np.array([py * 200 + px], dtype=np.int64)
    red = t.band_value(pix, 0, 0)[0]
    nir = t.band_value(pix, 0, 1)[0]
    assert out.loc[0, "ndvi"] == (nir - red) / (nir + red + 1.0)


def test_gee_bbox_mode_matches_bruteforce(spark):
    t = SyntheticGEETransport()
    aoi = {"lon_lo": -99.9, "lon_hi": -99.5, "lat_lo": 40.1, "lat_hi": 40.4}
    out = read_gee_collection(
        spark, COLL, aoi, date_lo=4, date_hi=5,
        transport=t, chunk_days=4,
    ).toPandas()
    pix = t._pixels(aoi)
    red, nir = t.band_value(pix, 4, 0), t.band_value(pix, 4, 1)
    ndvi = (nir - red) / (nir + red + 1.0)
    assert out.loc[0, "ndvi"] == _mode_smallest(ndvi)
