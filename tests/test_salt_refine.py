"""Salted-join equivalence (north rule: dense-cell skew) and PIP refine
parity with a brute-force numpy ray cast."""

from __future__ import annotations

from pyspark.sql import functions as F

from geo_epic_spark import cells, synth
from geo_epic_spark.geometry import points_in_polygon
from geo_epic_spark.operators.spatial import (
    add_salt, pip_join, replicate_for_salt,
)


def test_udf_refine_matches_expr(spark):
    """pip_join (cell cover, bbox cull, in-codegen ray-cast fold) returns
    exactly the (point, polygon) pairs of a numpy ray cast of EVERY point
    against EVERY polygon, multiplicity included."""
    imgs = synth.images_meta_df(spark, 20000).select("i", "cx", "cy")
    flds = synth.fields_df(spark, 300).select("poly_id", "xs", "ys")
    got = sorted(
        (r.i, r.poly_id)
        for r in pip_join(imgs, flds, res=0.05, lon="cx", lat="cy")
        .select("i", "poly_id").collect()
    )
    pts = imgs.toPandas()
    px, py, pid = pts["cx"].to_numpy(), pts["cy"].to_numpy(), pts["i"].to_numpy()
    want = sorted(
        (int(i), f.poly_id)
        for f in flds.collect()
        for i in pid[points_in_polygon(px, py, f.xs, f.ys)]
    )
    assert got == want and len(want) > 0


def test_salted_cell_join_equals_unsalted(spark):
    """Salting the probe side + replicating the build side across buckets
    must be a pure re-partitioning: identical join output. The synthetic HOT
    cluster (25% of polys, ~4% of the AOI) supplies the skewed cells."""
    buckets = 8
    res = 0.05
    imgs = synth.images_meta_df(spark, 30000).select("i", "cx", "cy").withColumn(
        "__cell", cells.cell_id(F.col("cx"), F.col("cy"), res)
    )
    polys = synth.fields_df(spark, 200).select(
        F.col("poly_id"),
        F.explode(cells.cover_polygon(F.col("xs"), F.col("ys"), res)).alias("__cell"),
    )
    plain = imgs.join(polys, "__cell").select("i", "poly_id")

    salted_probe = add_salt(imgs, "i", buckets)          # salt by a probe key
    salted_build = replicate_for_salt(polys, buckets)    # replicate build side
    salted = salted_probe.join(salted_build, ["__cell", "salt"]).select("i", "poly_id")

    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0


def test_hot_cluster_is_actually_skewed(spark):
    """Guard: the generator must plant a dense-cell hot spot, or the salted
    path is dead code in every bench."""
    res = 0.05
    imgs = synth.images_meta_df(spark, 50000).withColumn(
        "cell", cells.cell_id(F.col("cx"), F.col("cy"), res)
    )
    counts = imgs.groupBy("cell").count()
    stats = counts.agg(F.max("count").alias("mx"), F.avg("count").alias("avg")).collect()[0]
    assert stats["mx"] > 10 * stats["avg"], (stats["mx"], stats["avg"])
