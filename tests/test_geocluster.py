"""Radius join + grid-density clustering."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geo_epic_spark import synth
from geo_epic_spark.operators.geocluster import density_cluster, radius_join


class TestRadiusJoin:
    def test_matches_bruteforce(self, spark):
        pts = synth.images_meta_df(spark, 300).select("i", "cx", "cy")
        grid = synth.grid_df(spark, 10, 16, 0.125).select(
            "grid_id", F.col("lon").alias("clon"), F.col("lat").alias("clat"))
        got = {(r.i, r.grid_id): r.dist2 for r in
               radius_join(pts, grid, radius=0.2, lon="cx", lat="cy",
                           center_id="grid_id").collect()}
        p = synth.images_meta_np(300)
        g_lon = -100.0 + (np.arange(160) % 16 + 0.5) * 0.125
        g_lat = 40.0 + (np.arange(160) // 16 + 0.5) * 0.125
        want = {}
        for i in range(300):
            d2 = (p["cx"][i] - g_lon) ** 2 + (p["cy"][i] - g_lat) ** 2
            for gid in np.nonzero(d2 <= 0.04)[0]:
                want[(i, gid)] = d2[gid]
        assert set(got) == set(want)
        for k, v in want.items():
            assert got[k] == pytest.approx(v, rel=1e-12)

    def test_pair_emitted_once_and_broadcast(self, spark):
        pts = synth.images_meta_df(spark, 500).select("i", "cx", "cy")
        grid = synth.grid_df(spark, 10, 16, 0.125).select(
            "grid_id", F.col("lon").alias("clon"), F.col("lat").alias("clat"))
        out = radius_join(pts, grid, radius=0.3, lon="cx", lat="cy",
                          center_id="grid_id")
        assert out.groupBy("i", "grid_id").count().where("count > 1").count() == 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestDensityCluster:
    @pytest.fixture(scope="class")
    def labels(self, spark):
        pts = synth.images_meta_df(spark, 3000).select(
            F.col("i").alias("point_id"), "cx", "cy")
        out = density_cluster(pts, res=0.02, min_pts=4, lon="cx", lat="cy")
        return out.collect()

    def test_every_point_labeled_once(self, labels):
        assert len(labels) == 3000
        assert len({r.point_id for r in labels}) == 3000

    def test_hot_cluster_found(self, labels):
        # the planted HOT box (i % 5 == 0) must land overwhelmingly in one
        # dense component; the sparse background is mostly noise
        hot = [r for r in labels if r.point_id % 5 == 0]
        bg = [r for r in labels if r.point_id % 5 != 0]
        hot_in = [r for r in hot if r.cluster_id is not None]
        assert len(hot_in) / len(hot) > 0.95
        from collections import Counter
        top, n_top = Counter(r.cluster_id for r in hot_in).most_common(1)[0]
        assert n_top / len(hot_in) > 0.95       # a single dominant component
        bg_noise = sum(1 for r in bg if r.cluster_id is None)
        assert bg_noise / len(bg) > 0.5


class TestIDW:
    def test_matches_manual(self, spark):
        import numpy as np

        from geo_epic_spark.operators.geocluster import idw_interpolate

        st = [(0.0, 0.0, 10.0), (1.0, 0.0, 20.0), (0.0, 1.0, 30.0)]
        tg = [(0, 0.25, 0.25), (1, 0.9, 0.1), (2, 0.0, 0.0)]  # 2 = exact hit
        stations = spark.createDataFrame(st, "slon double, slat double, v double")
        targets = spark.createDataFrame(tg, "target_id long, lon double, lat double")
        got = {r.target_id: (r.v_idw, r.n_samples)
               for r in idw_interpolate(targets, stations, radius=2.0).collect()}
        for tid, tx, ty in tg:
            d2 = np.array([(tx - x) ** 2 + (ty - y) ** 2 for x, y, _ in st])
            v = np.array([v for _, _, v in st])
            if (d2 == 0).any():
                want = v[d2 == 0].min()
            else:
                w = 1.0 / d2
                want = (w * v).sum() / w.sum()
            assert got[tid][0] == pytest.approx(want, rel=1e-12)
            assert got[tid][1] == 3

    def test_out_of_range_targets_absent(self, spark):
        from geo_epic_spark.operators.geocluster import idw_interpolate

        stations = spark.createDataFrame([(0.0, 0.0, 5.0)],
                                         "slon double, slat double, v double")
        targets = spark.createDataFrame([(0, 0.05, 0.0), (1, 9.0, 9.0)],
                                        "target_id long, lon double, lat double")
        got = idw_interpolate(targets, stations, radius=0.1).collect()
        assert [r.target_id for r in got] == [0]
