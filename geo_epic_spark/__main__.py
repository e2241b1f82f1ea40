"""CLI dispatcher — `python -m geo_epic_spark <group> <cmd>`.

Mirrors the reference's `geo_epic <module> <func>` dispatcher
(`geoEpic/dispatcher.py:6-40` command table) with Spark-native commands: the
reference spawns one subprocess per script; here every command is a lazy
DataFrame pipeline in one SparkSession. Commands read/write Parquet paths so
they chain like the reference's file-based workflow.

  python -m geo_epic_spark sites assign    --images I.parquet --polys P.parquet --out O
  python -m geo_epic_spark weather nearest --points P.parquet --grid G.parquet --out O
  python -m geo_epic_spark soil zonal      --raster R.parquet --polys P.parquet --value mukey --out O
  python -m geo_epic_spark workspace validate --daily D.parquet --by site_id --start 2019 --end 2020
  python -m geo_epic_spark workspace run   --images I.parquet --polys P.parquet --out O --manifest M
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(cpus: str | None):
    from geo_epic_spark.session import get_spark

    return get_spark(cpus)


def cmd_sites_assign(a) -> int:
    from geo_epic_spark.operators.spatial import pip_join

    spark = _spark(a.cpus)
    imgs = spark.read.parquet(a.images)
    polys = spark.read.parquet(a.polys)
    out = pip_join(imgs, polys, res=a.res, lon=a.lon, lat=a.lat)
    out.write.mode("overwrite").parquet(a.out)
    print(json.dumps({"cmd": "sites assign", "rows": spark.read.parquet(a.out).count()}))
    return 0


def cmd_weather_nearest(a) -> int:
    from geo_epic_spark.operators.spatial import nearest_grid_join

    spark = _spark(a.cpus)
    pts = spark.read.parquet(a.points)
    grid = spark.read.parquet(a.grid)
    out = nearest_grid_join(pts, grid, res=a.res, k=a.k,
                            point_lon=a.lon, point_lat=a.lat)
    out.write.mode("overwrite").parquet(a.out)
    print(json.dumps({"cmd": "weather nearest", "rows": spark.read.parquet(a.out).count()}))
    return 0


def cmd_soil_zonal(a) -> int:
    from geo_epic_spark.operators.spatial import zonal_stats

    spark = _spark(a.cpus)
    raster = spark.read.parquet(a.raster)
    polys = spark.read.parquet(a.polys)
    out = zonal_stats(raster, polys, value=a.value, res=a.res)
    out.write.mode("overwrite").parquet(a.out)
    print(json.dumps({"cmd": "soil zonal", "rows": spark.read.parquet(a.out).count()}))
    return 0


def cmd_workspace_validate(a) -> int:
    from geo_epic_spark.functions.validators import dly_violations

    spark = _spark(a.cpus)
    daily = spark.read.parquet(a.daily)
    v = dly_violations(daily, [a.by], a.start, a.end).collect()
    for row in v:
        print(json.dumps(row.asDict()))
    print(json.dumps({"cmd": "workspace validate", "violations": len(v)}))
    return 1 if v else 0


def cmd_workspace_run(a) -> int:
    """Resumable flagship run: assign + manifest (skip-existing semantics of
    `core/workspace.py:225-259` via the checkpoint manifest)."""
    from pyspark.sql import functions as F

    from geo_epic_spark.operators.resume import run_with_resume
    from geo_epic_spark.operators.spatial import pip_join

    spark = _spark(a.cpus)
    imgs = spark.read.parquet(a.images).withColumn(
        "part", (F.col(a.partition_col) % a.partitions).cast("string")
    )
    polys = spark.read.parquet(a.polys)
    stats = run_with_resume(
        spark, imgs, "part",
        lambda df: pip_join(df, polys, res=a.res, lon=a.lon, lat=a.lat),
        a.out, a.manifest,
    )
    print(json.dumps({"cmd": "workspace run", **stats}))
    return 0


def cmd_dedup_minhash(a) -> int:
    from geo_epic_spark.operators.dedup import minhash_lsh_pairs

    spark = _spark(a.cpus)
    docs = spark.read.parquet(a.docs)
    out = minhash_lsh_pairs(docs, threshold=a.threshold,
                            partitions=a.partitions or None)
    out.write.mode("overwrite").parquet(a.out)
    print(json.dumps({"cmd": "dedup minhash",
                      "pairs": spark.read.parquet(a.out).count()}))
    return 0


def cmd_dedup_exact(a) -> int:
    from geo_epic_spark.operators.dedup import exact_dedup

    spark = _spark(a.cpus)
    docs = spark.read.parquet(a.docs)
    exact_dedup(docs).write.mode("overwrite").parquet(a.out)
    print(json.dumps({"cmd": "dedup exact",
                      "rows": spark.read.parquet(a.out).count()}))
    return 0


def cmd_media_resize(a) -> int:
    from geo_epic_spark.images.udfs import resize_images

    spark = _spark(a.cpus)
    imgs = spark.read.parquet(a.images)
    resize_images(imgs, target=a.target).write.mode("overwrite").parquet(a.out)
    print(json.dumps({"cmd": "media resize",
                      "rows": spark.read.parquet(a.out).count()}))
    return 0


def cmd_media_audio_features(a) -> int:
    from geo_epic_spark.media import audio_features

    spark = _spark(a.cpus)
    aud = spark.read.parquet(a.audio)
    out = aud.select("audio_id", audio_features("bytes", "sr").alias("f")).select(
        "audio_id", "f.duration_s", "f.rms", "f.peak", "f.zero_crossings"
    )
    out.write.mode("overwrite").parquet(a.out)
    print(json.dumps({"cmd": "media audio-features",
                      "rows": spark.read.parquet(a.out).count()}))
    return 0


def cmd_text_signals(a) -> int:
    """Text-quality signals for curation: token/lang/quality plus Gopher
    repetition columns, one row per doc."""
    from geo_epic_spark.operators.text import repetition_report, text_features

    spark = _spark(a.cpus)
    docs = spark.read.parquet(a.docs)
    out = text_features(docs).drop("text").join(
        repetition_report(docs).drop("n_tokens"), "doc_id"
    )
    out.write.mode("overwrite").parquet(a.out)
    print(json.dumps({"cmd": "text signals",
                      "rows": spark.read.parquet(a.out).count()}))
    return 0


def cmd_text_redact(a) -> int:
    from geo_epic_spark.operators.text import redact_pii

    spark = _spark(a.cpus)
    docs = spark.read.parquet(a.docs)
    redact_pii(docs).write.mode("overwrite").parquet(a.out)
    print(json.dumps({"cmd": "text redact",
                      "rows": spark.read.parquet(a.out).count()}))
    return 0


def cmd_dedup_semantic(a) -> int:
    from geo_epic_spark.operators.dedup import semantic_dedup
    from geo_epic_spark.operators.similarity import kmeans_centroids

    spark = _spark(a.cpus)
    import pyspark.sql.functions as F

    vecs = spark.read.parquet(a.vectors).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents = kmeans_centroids(vecs, c=a.clusters, key="vec_id")
    out = semantic_dedup(vecs, cents, threshold=a.threshold, priority=a.priority)
    out.write.mode("overwrite").parquet(a.out)
    kept = spark.read.parquet(a.out).filter("keep").count()
    print(json.dumps({"cmd": "dedup semantic",
                      "rows": spark.read.parquet(a.out).count(), "kept": kept}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="geo_epic_spark")
    p.add_argument("--cpus", default=None)
    sub = p.add_subparsers(dest="group", required=True)

    def add(group: str, cmd: str, fn, args: dict):
        gp = sub.add_parser(group) if group not in add.groups else add.groups[group]
        add.groups[group] = gp
        if not hasattr(gp, "_cmds"):
            gp._cmds = gp.add_subparsers(dest="cmd", required=True)
        cp = gp._cmds.add_parser(cmd)
        for name, kw in args.items():
            cp.add_argument(name, **kw)
        cp.set_defaults(fn=fn)

    add.groups = {}
    common = {"--res": {"type": float, "default": 0.05},
              "--lon": {"default": "cx"}, "--lat": {"default": "cy"}}
    add("sites", "assign", cmd_sites_assign,
        {"--images": {"required": True}, "--polys": {"required": True},
         "--out": {"required": True}, **common})
    add("weather", "nearest", cmd_weather_nearest,
        {"--points": {"required": True}, "--grid": {"required": True},
         "--out": {"required": True}, "--k": {"type": int, "default": 1}, **common})
    add("soil", "zonal", cmd_soil_zonal,
        {"--raster": {"required": True}, "--polys": {"required": True},
         "--value": {"required": True}, "--out": {"required": True},
         "--res": {"type": float, "default": 0.05},
         "--lon": {"default": "lon"}, "--lat": {"default": "lat"}})
    add("workspace", "validate", cmd_workspace_validate,
        {"--daily": {"required": True}, "--by": {"default": "site_id"},
         "--start": {"type": int, "required": True},
         "--end": {"type": int, "required": True}})
    add("workspace", "run", cmd_workspace_run,
        {"--images": {"required": True}, "--polys": {"required": True},
         "--out": {"required": True}, "--manifest": {"required": True},
         "--partition-col": {"default": "i", "dest": "partition_col"},
         "--partitions": {"type": int, "default": 16}, **common})

    add("dedup", "minhash", cmd_dedup_minhash,
        {"--docs": {"required": True}, "--out": {"required": True},
         "--threshold": {"type": float, "default": 0.5},
         "--partitions": {"type": int, "default": 0}})
    add("dedup", "exact", cmd_dedup_exact,
        {"--docs": {"required": True}, "--out": {"required": True}})
    add("media", "resize", cmd_media_resize,
        {"--images": {"required": True}, "--out": {"required": True},
         "--target": {"type": int, "default": 224}})
    add("media", "audio-features", cmd_media_audio_features,
        {"--audio": {"required": True}, "--out": {"required": True}})
    add("text", "signals", cmd_text_signals,
        {"--docs": {"required": True}, "--out": {"required": True}})
    add("text", "redact", cmd_text_redact,
        {"--docs": {"required": True}, "--out": {"required": True}})
    add("dedup", "semantic", cmd_dedup_semantic,
        {"--vectors": {"required": True}, "--out": {"required": True},
         "--threshold": {"type": float, "default": 0.95},
         "--clusters": {"type": int, "default": 16},
         "--priority": {"default": "key"}})

    a = p.parse_args(argv)
    return a.fn(a)


if __name__ == "__main__":
    sys.exit(main())
