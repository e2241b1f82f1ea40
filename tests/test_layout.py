"""Storage-layout pruning evidence (r4 VERDICT item 3): the thing
`cells.zorder_key` exists for — a z-sorted table prunes bbox scans — asserted
on real parquet files with real executed-plan metrics, vs an unsorted layout
of the identical data. Measured numbers land in PLANS.md "Z-order layout:
measured pruning"."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from geo_epic_spark import synth
from geo_epic_spark.plans.checks import formatted_plan, pushed_filters, scan_metrics
from geo_epic_spark.sources.layout import (
    LAYOUT_META,
    LAYOUT_SCHEMA,
    bbox_scan,
    write_zorder_layout,
    zrange_for_bbox,
)

N = 200_000
N_FILES = 32
# a ~0.3 x 0.2 deg box inside the synth AOI, overlapping the HOT cluster edge
# (a big result: ~27k of the 40k hot rows fall inside — the dense-cell case)
BBOX = (-97.1, 40.9, -96.8, 41.1)
# background-only box of the same size (~650 result rows — the common case)
BBOX_COLD = (-99.5, 40.3, -99.2, 40.5)


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("zlayout")
    imgs = synth.images_meta_df(spark, N).select("image_id", "cx", "cy")
    sorted_path = str(base / "zsorted")
    part_path = str(base / "zpart")
    unsorted_path = str(base / "unsorted")
    write_zorder_layout(imgs, sorted_path, n_files=N_FILES)
    write_zorder_layout(
        imgs, part_path, n_files=N_FILES, partition_prefix_bits=16
    )
    # same data, same file count, same z column — but hash-scattered, so
    # every file spans ~the full key range (the layout is the ONLY delta)
    from geo_epic_spark.cells import zorder_key

    (
        imgs.withColumn("z", zorder_key(F.col("cx"), F.col("cy")))
        .repartition(N_FILES, "image_id")
        .write.mode("overwrite")
        .parquet(unsorted_path)
    )
    spark.createDataFrame(
        [dict(lon="cx", lat="cy", bits=16, z_col="z", partition_prefix_bits=0)],
        LAYOUT_SCHEMA,
    ).write.json(unsorted_path + "/" + LAYOUT_META)
    return sorted_path, part_path, unsorted_path


def _q(spark, path, **kw):
    return bbox_scan(spark, path, *BBOX, **kw)


class TestZorderPruning:
    def test_same_answer_both_layouts(self, spark, layouts):
        sorted_path, part_path, unsorted_path = layouts
        a = sorted(r.image_id for r in _q(spark, sorted_path).collect())
        b = sorted(r.image_id for r in _q(spark, unsorted_path).collect())
        c = sorted(
            r.image_id
            for r in _q(spark, part_path, partition_prefix_bits=16).collect()
        )
        assert a == b == c and len(a) > 100

    def test_zrange_pushed_to_scan(self, spark, layouts):
        sorted_path, _, _ = layouts
        pf = " ".join(pushed_filters(_q(spark, sorted_path)))
        assert "GreaterThanOrEqual(z" in pf and "LessThanOrEqual(z" in pf

    def test_rowgroup_pruning_vs_unsorted(self, spark, layouts):
        """The headline claim: the sorted layout MATERIALIZES a small
        contiguous slice; the unsorted layout reads everything. Both scans
        list all files (z is not a partition column) — the delta is rows.
        Two boxes: the hot-cluster edge (dense result, scan reads <=2x the
        result) and a background box (sparse result, >=10x total reduction)."""
        sorted_path, _, unsorted_path = layouts
        (ms,) = scan_metrics(_q(spark, sorted_path))
        (mu,) = scan_metrics(_q(spark, unsorted_path))
        n_result = _q(spark, sorted_path).count()
        assert mu["numOutputRows"] == N  # unsorted: stats prune nothing
        # hot box: the result itself is ~27k rows; the sorted scan reads a
        # contiguous slice close to it, never the table
        assert n_result >= 20_000
        assert n_result <= ms["numOutputRows"] <= 2 * n_result
        (msc,) = scan_metrics(
            bbox_scan(spark, sorted_path, *BBOX_COLD))
        (muc,) = scan_metrics(
            bbox_scan(spark, unsorted_path, *BBOX_COLD))
        assert muc["numOutputRows"] == N
        assert msc["numOutputRows"] <= N // 10

    def test_partition_pruning_reduces_files(self, spark, layouts):
        """With the coarse-prefix directory partitioning (the Iceberg
        truncate(z) analog) the planner prunes whole directories: numFiles
        drops below the total file count, not just rows."""
        _, part_path, unsorted_path = layouts
        (mp,) = scan_metrics(_q(spark, part_path, partition_prefix_bits=16))
        (mu,) = scan_metrics(_q(spark, unsorted_path))
        assert mu["numFiles"] == N_FILES
        assert mp["numFiles"] < N_FILES // 2
        # the hot box's result is ~27k rows; directory+row-group pruning
        # still reads only ~the slice, never the table
        n_result = _q(spark, part_path, partition_prefix_bits=16).count()
        assert mp["numOutputRows"] <= 2 * n_result
        # and the pruning is static (a PartitionFilters entry), visible in
        # the formatted plan
        plan = formatted_plan(_q(spark, part_path, partition_prefix_bits=16))
        assert "PartitionFilters" in plan and "zp" in plan

    def test_layout_mismatch_raises(self, spark, layouts, tmp_path):
        """A scan whose prefix or key bits differ from the written layout
        would compute the wrong key range and drop in-bbox rows; it must
        raise instead, and so must a path without the layout sidecar."""
        _, part_path, _ = layouts
        with pytest.raises(ValueError, match="partition_prefix_bits=8"):
            _q(spark, part_path, partition_prefix_bits=8)
        with pytest.raises(ValueError, match=" bits=12"):
            _q(spark, part_path, bits=12)
        bare = str(tmp_path / "bare")
        spark.range(3).write.parquet(bare)
        with pytest.raises(ValueError, match=LAYOUT_META):
            _q(spark, bare)
        # the sidecar is not data: a plain read of the layout sees only rows
        assert spark.read.parquet(part_path).count() == N

    def test_zrange_contains_bbox(self):
        """Monotonicity witness for zrange_for_bbox on a lattice of interior
        points (the correctness side of the prune — the BETWEEN may only
        over-approximate, never exclude a bbox row)."""
        import numpy as np

        from geo_epic_spark.cells import np_zorder_key

        lon0, lat0, lon1, lat1 = BBOX
        zlo, zhi = zrange_for_bbox(*BBOX)
        lon = np.linspace(lon0, lon1, 25)
        lat = np.linspace(lat0, lat1, 25)
        gx, gy = np.meshgrid(lon, lat)
        z = np_zorder_key(gx.ravel(), gy.ravel())
        assert z.min() >= zlo and z.max() <= zhi
