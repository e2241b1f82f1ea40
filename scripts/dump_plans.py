"""Regenerate PLANS.md: formatted physical plans of the flagship operators
with scale annotations. Run: python scripts/dump_plans.py"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from geo_epic_spark import synth  # noqa: E402
from geo_epic_spark.operators.spatial import (  # noqa: E402
    nearest_grid_join, pip_join, zonal_stats,
)
from geo_epic_spark.plans.checks import formatted_plan  # noqa: E402
from geo_epic_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark(8, "plandump")
    imgs = synth.images_meta_df(spark, 10000).select("i", "cx", "cy")
    flds = synth.fields_df(spark, 200).select("poly_id", "xs", "ys")
    grid = synth.grid_df(spark, 50, 80, 0.0625)

    sections = []

    def add(title, df, note):
        lines = formatted_plan(df).splitlines()
        tree_end = next(
            (i for i, l in enumerate(lines) if l.strip() == "" and i > 3), len(lines)
        )
        tree = "\n".join(lines[:tree_end])
        sections.append(f"## {title}\n\n{note}\n\n```\n{tree}\n```\n")

    add(
        "Flagship PIP tile-assignment (`pip_join`)",
        pip_join(imgs, flds, res=0.05, lon="cx", lat="cy"),
        "One `BroadcastHashJoin` with the ray-cast evaluated in the join condition;\n"
        "the image stream never shuffles (broadcast exchange only). At 10^12 rows the\n"
        "only data movement is the polygon-cell broadcast.",
    )
    add(
        "Nearest-grid assignment, covered-raster fast path "
        "(`nearest_grid_join(max_ring=1, fallback='drop')`)",
        nearest_grid_join(
            imgs, grid, res=0.0625, point_id="i", point_lon="cx",
            point_lat="cy", max_ring=1, fallback="drop",
        ),
        "Broadcast ring-1 candidate join + `min_by` partial aggregation: map-side\n"
        "combine leaves one row per point per partition before the (only) shuffle.",
    )
    add(
        "Zonal statistics (`zonal_stats`)",
        zonal_stats(synth.soil_grid_df(spark, 60, 100, 0.01), flds,
                    value="mukey", res=0.05),
        "PIP join feeds a two-phase `HashAggregate` (partial then final) keyed by\n"
        "polygon id — cells reduce before they move.",
    )
    # bucketed co-located join: pay the shuffle once at write, never again
    import shutil
    from urllib.parse import urlparse

    from geo_epic_spark.sources.bucketing import read_table, write_bucketed

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice"
    )
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    for tbl in ("plans_li_b", "plans_o_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
    write_bucketed(li, "plans_li_b", "orderkey", buckets=4)
    write_bucketed(o, "plans_o_b", "orderkey", buckets=4)
    add(
        "Bucketed co-located fact⋈fact join (`sources/bucketing.py`)",
        read_table(spark, "plans_li_b").hint("merge").join(
            read_table(spark, "plans_o_b"), on="orderkey"
        ),
        "Both sides written `bucketBy(N, key)` + sorted: the sort-merge join has NO\n"
        "`Exchange` on either side — the shuffle was paid once at write time and is\n"
        "amortized over every downstream run (site⋈weather / site⋈soil at 100 TB).",
    )
    # skew-salted cell join: salting must not add exchanges beyond the one
    # the plain equi-join pays on the probe side
    from geo_epic_spark import cells
    from geo_epic_spark.operators.spatial import add_salt, replicate_for_salt

    imgs_c = imgs.withColumn("__cell", cells.cell_id(F.col("cx"), F.col("cy"), 0.05))
    polys_c = synth.fields_df(spark, 200).select(
        "poly_id", "x0", "x1", "y0", "y1",
        F.explode(cells.cover_polygon(F.col("xs"), F.col("ys"), 0.05)).alias("__cell"),
    )
    add(
        "Skew-salted cell join (`add_salt` + `replicate_for_salt`)",
        add_salt(imgs_c, "i", 8)
        .join(replicate_for_salt(polys_c, 8), ["__cell", "salt"])
        .filter(
            (F.col("cx") >= F.col("x0")) & (F.col("cx") <= F.col("x1"))
            & (F.col("cy") >= F.col("y0")) & (F.col("cy") <= F.col("y1"))
        )
        .groupBy("poly_id").count(),
        "The salt column widens the join key so one hot cell's rows spread over 8\n"
        "reducers; the build side is replicated 8x BEFORE the broadcast, so the\n"
        "probe stream still moves once. Same shape as the plain join — salting is\n"
        "a pure re-partitioning (q_salted_pip hash-matches the unsalted oracle).",
    )
    # semantic dedup: within-cluster pair join keyed by cluster id
    from geo_epic_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents_rows = emb.filter("vec_id < 4").orderBy("vec_id").collect()
    cents = [[float(x) for x in r["embedding"]] for r in cents_rows]
    add(
        "Semantic dedup (`semantic_dedup`, SemDeDup)",
        semantic_dedup(emb, cents, threshold=0.99),
        "Stage 1 (cluster assignment) is a zero-shuffle Column expression; stage 2's\n"
        "pair join keys on `ivf_list` — at 100 TB that is the write-time partition\n"
        "column, so the self-join is co-located and pair work stays inside each\n"
        "cluster's bucket (~n²/C pairs instead of n² global). (At this fixture size\n"
        "AQE broadcasts the ranked side — the equi-key plan is what matters.)",
    )
    add(
        "Parquet scan pushdown evidence",
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity"),
        "Filter and projection reach the scan: `PushedFilters: [IsNotNull(l_quantity),\n"
        "GreaterThan(l_quantity,40.0)]`, `ReadSchema` holds only the two projected columns.",
    )

    header = """# PLANS — physical-plan evidence for the flagship operators

Generated by `scripts/dump_plans.py` (re-run to refresh). These are the plan
shapes `tests/test_plans.py` pins in CI; annotations explain why each shape
is the one that survives a 100x scale-up (see DESIGN_AT_SCALE.md).
"""
    open(os.path.join(ROOT, "PLANS.md"), "w").write(header + "\n" + "\n".join(sections))
    spark.stop()


if __name__ == "__main__":
    main()
