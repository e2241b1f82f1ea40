"""spark-submit entry point for the flagship tile-assignment pipeline.

North-rule launch path: the engine ships as a --py-files zip; this script is
the application. The master, the executors and every setting come from
spark-submit: submit.sh passes the package's session.DEFAULT_CONF as --conf
flags, so this session runs under the same conf as get_spark's.

  scripts/submit.sh [n_images] [n_polys] [out_dir]   # packages + submits

Reads either $GEO_EPIC_INPUT (parquet of image rows: i/cx/cy or the full
input_hint schema) or synthesizes n_images deterministically; assigns every
image to its containing field polygons; writes assignments partitioned by
CNTYFIPS-style county of the polygon (resume-friendly layout) and prints a
one-line JSON summary.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession


def main() -> None:
    n_images = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_polys = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    out_dir = sys.argv[3] if len(sys.argv) > 3 else "/tmp/geo_epic_submit_out"

    # master and conf from spark-submit, not get_spark's local[...]
    spark = SparkSession.builder.appName("geo-epic-tile-assign").getOrCreate()
    # engine modules come from --py-files
    from geo_epic_spark import synth
    from geo_epic_spark.operators.spatial import pip_join

    inp = os.environ.get("GEO_EPIC_INPUT")
    if inp:
        imgs = spark.read.parquet(inp).select("i", "cx", "cy")
    else:
        imgs = synth.images_meta_df(spark, n_images).select("i", "cx", "cy")
    flds = synth.fields_df(spark, n_polys).select(
        "poly_id", "xs", "ys", "CNTYFIPS"
    )
    t0 = time.time()
    assigned = pip_join(
        imgs, flds, res=0.05, lon="cx", lat="cy",
        keep_poly_cols=["CNTYFIPS"],
    )
    assigned.write.mode("overwrite").partitionBy("CNTYFIPS").parquet(out_dir)
    n = spark.read.parquet(out_dir).count()
    dt = time.time() - t0
    print(json.dumps({
        "job": "tile_assign", "n_images": n_images, "n_polys": n_polys,
        "assignments": n, "sec": round(dt, 2),
        "rows_per_sec": round(n_images / dt), "out": out_dir,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
