"""Relational soil operators, select-DSL parity, validators."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from geo_epic_spark import synth
from geo_epic_spark.functions.select_dsl import select_str
from geo_epic_spark.operators.relational import (
    depth_bucket_median,
    dominant_component,
    opc_append,
    soil_projection,
)


@pytest.fixture(scope="module")
def comps(spark):
    return synth.soil_components_df(spark, 40).cache()


@pytest.fixture(scope="module")
def layers(spark):
    return synth.soil_layers_df(spark, 40).cache()


def test_dominant_component(spark, comps):
    got = dominant_component(comps).toPandas()
    pdf = comps.toPandas()
    assert len(got) == pdf.mukey.nunique()
    for mk, grp in pdf.groupby("mukey"):
        want = grp.sort_values(["comppct_r", "cokey"], ascending=[False, True]).iloc[0]
        assert got[got.mukey == mk].cokey.iloc[0] == want.cokey


def test_soil_projection_units(spark, comps, layers):
    j = layers.join(comps.select("mukey", "cokey", "hydgrp", "albedodry_r"), "cokey")
    got = soil_projection(j).toPandas()
    src = j.toPandas()
    np.testing.assert_allclose(got.depth_m, src.hzdepb_r * 0.01)
    np.testing.assert_allclose(got.om_pct, src.om_r * 0.58)
    np.testing.assert_allclose(got.ksat_mm_hr, src.ksat_r * 3.6)
    np.testing.assert_allclose(
        got.claytotal_r, 100 - src.sandtotal_r - src.silttotal_r
    )
    hmap = {"A": 1, "B": 2, "C": 3, "D": 4}
    want = src.hydgrp.map(lambda h: hmap.get(h, 3))
    assert (got.hydgrp_code == want).all()


def test_depth_bucket_median(spark, comps, layers):
    j = layers.join(comps.select("cokey", "mukey"), "cokey").filter("wthirdbar_r > 0")
    got = depth_bucket_median(j, ["om_r", "ksat_r"]).toPandas()
    pdf = j.toPandas()
    pdf["depth_bucket"] = pdf.hzdepb_r.round(1)
    want = pdf.groupby(["mukey", "depth_bucket"])[["om_r", "ksat_r"]].median()
    assert len(got) == len(want)
    merged = got.set_index(["mukey", "depth_bucket"]).join(want, rsuffix="_w")
    np.testing.assert_allclose(merged.om_r_med, merged.om_r, rtol=1e-12)
    np.testing.assert_allclose(merged.ksat_r_med, merged.ksat_r, rtol=1e-12)


def test_select_dsl_range(spark):
    df = synth.fields_df(spark, 100).select("SiteID", "CNTYFIPS")
    got = select_str(df, "Range(0.35, 0.8)", order_by="SiteID").toPandas()
    assert sorted(got.SiteID) == list(range(35, 80))


def test_select_dsl_filter_and_union(spark):
    df = synth.fields_df(spark, 100).select("SiteID", "CNTYFIPS")
    got = select_str(df, "CNTYFIPS == '19000'; Range(0.0, 0.1) + CNTYFIPS == '19001'").toPandas()
    pdf = df.toPandas().sort_values("SiteID").reset_index(drop=True)
    # reference quirk (`misc.py:64`): Range bounds use the UNFILTERED length,
    # applied as positional slice of the filtered frame — ceil(0.1*100)=10
    # positions of the 10-row filtered subset.
    a = pdf[pdf.CNTYFIPS == "19000"].iloc[: int(np.ceil(0.1 * len(pdf)))]
    b = pdf[pdf.CNTYFIPS == "19001"]
    want = set(a.SiteID) | set(b.SiteID)
    assert set(got.SiteID) == want


def test_select_dsl_random_seeded(spark):
    df = synth.fields_df(spark, 100).select("SiteID", "CNTYFIPS")
    a = select_str(df, "Random(0.3)").toPandas()
    b = select_str(df, "Random(0.3)").toPandas()
    assert sorted(a.SiteID) == sorted(b.SiteID)  # deterministic via fixed seed
    assert 10 <= len(a) <= 60


def test_validators_dly_ranges(spark):
    """Port of DLY.validate range checks (`io/inputs.py:237-246`) as
    DataFrame assertions over the synthetic weather."""
    daily = synth.weather_daily_df(spark, 2, 365)
    bad = daily.filter(
        ~F.col("srad").between(0.01, 900)
        | ~F.col("tmax").between(-50, 100)
        | ~F.col("tmin").between(-50, 100)
        | (F.col("tmax") < F.col("tmin"))
        | ~F.col("rh").between(0, 1)
        | (F.col("prcp") < 0) | (F.col("prcp") > 900)
        | (F.col("ws").isNotNull() & ~F.col("ws").between(0, 900))
    ).count()
    assert bad == 0


def test_apply_derived_formula_chain(spark):
    """gee/core.py eval-DSL parity: formulas are SQL strings with {col}
    placeholders; later formulas can use earlier derived names."""
    import math

    import pandas as pd

    from geo_epic_spark.functions.derived import apply_derived, compile_formula

    assert compile_formula("{vp}/(611*exp({tmax}))") == "`vp`/(611*exp(`tmax`))"
    df = spark.createDataFrame(pd.DataFrame({"vp": [1000.0], "tmax": [25.0], "tmin": [10.0]}))
    out = apply_derived(df, {
        "es": "611*exp((17.27*{tmax})/({tmax}+237.3))",
        "rh": "{vp}/{es}",
    }).toPandas().iloc[0]
    es = 611 * math.exp((17.27 * 25.0) / (25.0 + 237.3))
    assert abs(out["es"] - es) < 1e-6
    assert abs(out["rh"] - 1000.0 / es) < 1e-9


def test_opc_append_yid_rebasing(spark):
    """`io/opc.py:605-635` parity: second schedule's Yids rebase to follow the
    first's last year; min==0 schedules are offset without rebase; Yr/date
    rebuilt from start_year."""
    first = spark.createDataFrame(
        [(1, 3, 15, 2), (2, 6, 1, 650), (3, 4, 10, 2)],
        "Yid int, Mn int, Dy int, CODE int",
    )
    second = spark.createDataFrame(
        [(4, 5, 20, 2), (5, 9, 30, 650)],  # min=4 -> rebase to 1,2 -> +3
        "Yid int, Mn int, Dy int, CODE int",
    )
    out = opc_append(first, second, start_year=2000).orderBy("Yid", "Mn").toPandas()
    assert out["Yid"].tolist() == [1, 2, 3, 4, 5]
    assert out["Yr"].tolist() == [2000, 2001, 2002, 2003, 2004]
    assert str(out["date"].iloc[3]) == "2003-05-20"
    # min == 0: offset only (reference's escape hatch)
    zero = spark.createDataFrame([(0, 2, 1, 2), (1, 7, 4, 650)],
                                 "Yid int, Mn int, Dy int, CODE int")
    out0 = opc_append(first, zero).orderBy("Yid").toPandas()
    assert out0["Yid"].tolist() == [1, 2, 3, 3, 4]


def test_opc_append_grouped(spark):
    """Per-site append in one pass: offsets resolve per group."""
    first = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1)], "site string, Yid int")
    second = spark.createDataFrame(
        [("a", 1), ("b", 5), ("b", 6)], "site string, Yid int")
    out = opc_append(first, second, by=["site"]).toPandas()
    got = sorted(map(tuple, out[["site", "Yid"]].itertuples(index=False)))
    assert got == [("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 2), ("b", 3)]


def test_opc_append_disjoint_groups_survive(spark):
    """Groups present in only one input must not be dropped: first-only
    passes through, second-only rebases against an empty first (Yid 1...)."""
    first = spark.createDataFrame(
        [("a", 1), ("a", 2), ("only_f", 1)], "site string, Yid int")
    second = spark.createDataFrame(
        [("a", 5), ("only_s", 3), ("only_s", 4)], "site string, Yid int")
    out = opc_append(first, second, by=["site"]).toPandas()
    got = sorted(map(tuple, out[["site", "Yid"]].itertuples(index=False)))
    assert got == [("a", 1), ("a", 2), ("a", 3),
                   ("only_f", 1), ("only_s", 1), ("only_s", 2)]


def test_opc_append_empty_first_global(spark):
    """Empty FIRST schedule with by=None: max(Yid) over zero rows is NULL;
    the global branch must coalesce it to 0 like the grouped branch does,
    so `second` rebases to Yid starting at 1 instead of going all-NULL
    (r2 advisory finding)."""
    empty = spark.createDataFrame([], "Yid int, Mn int, Dy int, CODE int")
    second = spark.createDataFrame(
        [(4, 5, 20, 2), (5, 9, 30, 650)], "Yid int, Mn int, Dy int, CODE int")
    out = opc_append(empty, second, start_year=2000).orderBy("Yid").toPandas()
    assert out["Yid"].tolist() == [1, 2]
    assert out["Yr"].tolist() == [2000, 2001]
    assert out["Yid"].notna().all() and out["date"].notna().all()


class TestMergeUpsert:
    def test_semantics(self, spark):
        from geo_epic_spark.operators.relational import merge_upsert

        base = spark.createDataFrame(
            [(1, "a", 1), (2, "b", 1), (3, "c", 1), (4, "d", 5)],
            "k int, v string, version int")
        upd = spark.createDataFrame(
            [(2, "B", 2, False),   # newer version wins
             (3, "C", 1, False),   # tie: update wins
             (4, "D", 2, False),   # older than base: base wins
             (1, "x", 9, True),    # tombstone: key removed
             (5, "E", 1, False)],  # brand new key: inserted
            "k int, v string, version int, deleted boolean")
        got = {r.k: (r.v, r.version) for r in
               merge_upsert(base, upd, key="k", version="version",
                            delete_col="deleted").collect()}
        assert got == {2: ("B", 2), 3: ("C", 1), 4: ("d", 5), 5: ("E", 1)}

    def test_single_exchange(self, spark):
        from geo_epic_spark.operators.relational import merge_upsert

        base = spark.range(100).select(F.col("id").alias("k"),
                                       F.lit(1).alias("version"))
        upd = spark.range(50).select(F.col("id").alias("k"),
                                     F.lit(2).alias("version"))
        plan = (merge_upsert(base, upd, key="k", version="version")
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange") == 1
