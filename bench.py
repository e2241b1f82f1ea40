"""Headline benchmark: spatial-join + tile-assignment throughput.

Runs the 11 flagship queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: every core);
$BENCH_N_IMG sets the spatial fixture size (default 1,000,000 images).
Each query runs one warm-up, then exactly 3 timed runs: no retries, no
sleeps. CPU steal and the 1-minute load are recorded as witnesses only.

Output:
  * BENCH_DETAIL.json, next to this file: per query ``best`` and ``median``
    seconds, ``result_rows``, ``rows_per_sec`` (spatial and kernel-class
    queries), ``load`` (1-minute load before the timed runs), ``steal``
    (CPU steal fraction over them), or ``err`` when the query raised.
  * The last stdout line, one compact JSON object (under 1,000 bytes):
      {"metric", "value": <sum of best sec>, "unit": "sec",
       "value_r4_subset", "queries": {name: best sec}, "failed": [names],
       "steal_frac", "cpus", "sf"}
    ``value`` and ``value_r4_subset`` are null when any query failed, and the
    process then exits 1, so a broken query never reads as a speed-up.

The N vs 4N scaling efficiency comes from scripts/scaling.py, which runs
perfbench's seeded workloads (BASELINE.md has the numbers); this file is the
per-round driver entry point.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402

from geo_epic_spark import synth  # noqa: E402
from geo_epic_spark.images.udfs import decode_stats, full_images_df  # noqa: E402
from geo_epic_spark.operators.dedup import (  # noqa: E402
    hamming_near_dup_pairs,
    minhash_lsh_pairs,
)
from geo_epic_spark.operators.mapalgebra import focal_stats  # noqa: E402
from geo_epic_spark.operators.search import bm25_topk  # noqa: E402
from geo_epic_spark.operators.similarity import (  # noqa: E402
    cosine_topk,
    pq_encode_arrow,
    pq_topk,
)
from geo_epic_spark.operators.spatial import (  # noqa: E402
    nearest_grid_join,
    pip_join,
    zonal_stats,
)
from geo_epic_spark.plans.checks import formatted_plan  # noqa: E402
from geo_epic_spark.session import get_spark  # noqa: E402
from perfbench.instrument import cpu_times, steal_frac  # noqa: E402

DETAIL_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
N_RUNS = 3
# bench fixture scales (spatial rows are synthesized — the engine's input
# table per BASELINE.json; relational/text queries use the driver's sf dir)
N_IMG = int(os.environ.get("BENCH_N_IMG", "1000000"))
N_DECODE = 4000
# kernel-class fixtures (aggregate-scatter, banded-hamming, lexical-retrieval,
# compressed-ANN), sized so the kernel, not fixed per-job overhead, dominates
# a timed run.
N_HAM = 250000
FOCAL_NR = 1500
FOCAL_NC = 2000
N_BM25 = 50000
N_PQ = 100000
N_POLY = 2000
GRID = (200, 320, 0.015625)
# the original 7 queries: r1-r4 suite totals stay comparable through this sum
R4_SUBSET = ("tile_assign", "nearest_grid", "zonal_stats", "pricing_summary",
             "minhash_lsh", "cosine_topk", "image_decode")

# deterministic PQ codebooks (m=8 subspaces x 16 codes x 8 dims, seeded —
# bench-only fixture; the oracle-verified codebook path is q_pq_topk's)
_PQ_CODEBOOKS = [
    [[float(x) for x in code] for code in cb]
    for cb in np.random.Generator(np.random.PCG64(7)).uniform(
        -1.0, 1.0, (8, 16, 8)
    )
]


def _err(e: BaseException) -> str:
    """Print the traceback to stderr; return ``"<Type>: <first line>"``."""
    traceback.print_exc()
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0] if lines else ''}"


def run_query(fn, rows: int | None = None) -> dict:
    """Time ``fn`` (which returns its result row count): one warm-up call,
    then N_RUNS timed calls. Returns best/median seconds plus witnesses, or
    ``{"err": ...}`` when any call raises."""
    try:
        # the warm-up pays one-off codegen, broadcast build and Python-worker
        # spawn; C2 JIT of the generated code often lands only during it
        fn()
        load = round(os.getloadavg()[0], 1)
        c0 = cpu_times()
        times = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            n = fn()
            times.append(time.perf_counter() - t0)
        steal = steal_frac(c0, cpu_times())
    except Exception as e:  # one broken query must not abort the suite
        return {"err": _err(e)}
    out = {"best": round(min(times), 3), "median": round(statistics.median(times), 3),
           "result_rows": n, "load": load, "steal": round(steal, 4)}
    if rows:
        out["rows_per_sec"] = round(rows / min(times))
    return out


def _pin_nearest_grid(imgs, grid) -> None:
    """max_ring=1 + fallback='drop' must compile to ONE BroadcastHashJoin and
    no Union (a silent fallback to the escalating path was the prime suspect
    for a 10x-off driver measurement in round 1)."""
    plan = formatted_plan(
        nearest_grid_join(
            imgs, grid, res=GRID[2], point_id="i", point_lon="cx",
            point_lat="cy", max_ring=1, fallback="drop",
        )
    )
    n_joins = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    if n_joins != 1 or "Union" in plan:
        raise AssertionError("nearest_grid fast-path plan regressed:\n" + plan)


def bench_queries(spark, sf_dir: str) -> dict[str, dict]:
    imgs = synth.images_meta_df(spark, N_IMG).select("i", "cx", "cy")
    flds = synth.fields_df(spark, N_POLY).select("poly_id", "xs", "ys")
    grid = synth.grid_df(spark, *GRID)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    defs = {
        # the north-rule metric path: PIP tile assignment over N_IMG tiles
        "tile_assign": (
            lambda: pip_join(imgs, flds, res=0.05, lon="cx", lat="cy").count(),
            N_IMG,
        ),
        "nearest_grid": (
            # max_ring=1: the bench grid covers the AOI at spacing == res, so
            # ring-1 provably contains the nearest cell (J2 raster-sampling
            # case) — single broadcast join + min_by, no escalation actions
            lambda: nearest_grid_join(
                imgs, grid, res=GRID[2], point_id="i", point_lon="cx",
                point_lat="cy", max_ring=1, fallback="drop",
            ).count(),
            N_IMG,
        ),
        "zonal_stats": (
            lambda: zonal_stats(
                synth.soil_grid_df(spark, 300, 500, 0.00901),
                flds,
                value="mukey",
                res=0.05,
                stats=("mean", "median", "count"),
            ).count(),
            300 * 500,
        ),
        "pricing_summary": (
            lambda: li.groupBy("l_returnflag", "l_linestatus").agg(
                F.sum("l_quantity"), F.avg("l_discount"), F.count(F.lit(1))
            ).count(),
            None,
        ),
        "minhash_lsh": (
            # partitions: the sf dir ships one parquet file; spread the
            # shingle stage across the slots instead of one serial task
            lambda: minhash_lsh_pairs(
                docs, threshold=0.125, num_hashes=64, bands=32, partitions=64
            ).count(),
            None,
        ),
        "cosine_topk": (
            lambda: cosine_topk(
                emb,
                emb.filter("vec_id < 20").select(
                    F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
                ),
                k=10,
            ).count(),
            None,
        ),
        # banded-hamming class: pigeonhole block join + popcount verify over
        # 64-bit phashes with planted <=2-bit near-dups (~n/16 true pairs)
        "hamming_near_dup": (
            lambda: hamming_near_dup_pairs(
                synth.phashes_synth_df(spark, N_HAM),
                key="img_id", hash_col="phash", max_hamming=4,
                expected_n=N_HAM,
            ).count(),
            N_HAM,
        ),
        # aggregate-scatter class: 3x3 focal mean/min/max/count over a
        # 3M-cell raster-as-table (9x explode -> one hash agg)
        "focal_stats": (
            lambda: focal_stats(
                synth.soil_grid_df(spark, FOCAL_NR, FOCAL_NC, 0.001),
                nc=FOCAL_NC, nr=FOCAL_NR, value="mukey",
            ).count(),
            FOCAL_NR * FOCAL_NC,
        ),
        # lexical-retrieval class: BM25 top-10 for 8 x 50-term queries over
        # an N_BM25-doc synthetic corpus (dl computed before explode; no
        # corpus-joins-corpus anywhere)
        "bm25_topk": (
            lambda: bm25_topk(
                synth.documents_synth_df(spark, N_BM25),
                synth.documents_synth_df(spark, N_BM25)
                .filter(F.col("doc_id") % (N_BM25 // 8) == 7)
                .select(F.col("doc_id").alias("q_id"),
                        F.col("text").alias("q_text")),
                key="doc_id", k=10,
            ).count(),
            N_BM25,
        ),
        # compressed-ANN class: Arrow PQ encode (m=8 subspaces x 16 codes,
        # one vectorized argmin per batch — the 10^9-row kernel; the
        # interpreted-HOF pq_encode stays the oracle path) + ADC top-10 for
        # 8 queries over 64-dim vectors
        "pq_topk": (
            lambda: pq_topk(
                pq_encode_arrow(
                    synth.embeddings_synth_df(spark, N_PQ), _PQ_CODEBOOKS
                ),
                synth.embeddings_synth_df(spark, N_PQ)
                .filter(F.col("vec_id") % (N_PQ // 8) == 3)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")),
                _PQ_CODEBOOKS, k=10,
            ).count(),
            N_PQ,
        ),
        # payload axis: generate -> encode -> decode -> feature-extract over
        # Arrow batches (images/sec throughput of the multimodal stage)
        "image_decode": (
            lambda: full_images_df(spark, N_DECODE)
            .select("i", "fmt", decode_stats("bytes", "fmt").alias("s"))
            .filter(F.col("s.mean_lum") >= 0)
            .count(),
            N_DECODE,
        ),
    }
    out = {name: run_query(fn, rows) for name, (fn, rows) in defs.items()}
    try:
        _pin_nearest_grid(imgs, grid)
    except Exception as e:
        out["nearest_grid"]["err"] = _err(e)
    return out


def headline(res: dict[str, dict], steal: float, cpus: int, sf_dir: str) -> dict:
    """The compact suite summary printed as the last stdout line."""
    failed = [k for k, v in res.items() if "err" in v]
    return {
        "metric": "headline suite wall time (flagship: tile_assign rows/s)",
        "value": None if failed else round(sum(v["best"] for v in res.values()), 3),
        "unit": "sec",
        "value_r4_subset": None if failed else round(sum(res[k]["best"] for k in R4_SUBSET), 3),
        "queries": {k: v.get("best") for k, v in res.items()},
        "failed": failed,
        "steal_frac": round(steal, 4),
        "cpus": cpus,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
    }


def report(res: dict[str, dict], steal: float, cpus: int, sf_dir: str,
           detail_path: str = DETAIL_PATH) -> int:
    """Write the detail file, print the headline as the last stdout line and
    return the process exit status (1 when any query failed)."""
    head = headline(res, steal, cpus, sf_dir)
    with open(detail_path, "w") as f:
        json.dump({"headline": head, "n_images": N_IMG, "runs_per_query": N_RUNS,
                   "queries": res}, f, indent=1)
    print(json.dumps(head, separators=(",", ":")), flush=True)
    return 1 if head["failed"] else 0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_spark(cpus, "geo-epic-bench")
    # warm the JVM/UDF path once so timings measure the engine, not startup
    synth.images_meta_df(spark, 1000).count()
    c0 = cpu_times()
    res = bench_queries(spark, sf_dir)
    steal = steal_frac(c0, cpu_times())
    spark.stop()
    return report(res, steal, cpus, sf_dir)


if __name__ == "__main__":
    sys.exit(main())
