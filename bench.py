"""Headline benchmark: spatial-join + tile-assignment throughput.

Runs the flagship queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
   "sf": ..., "rows_per_sec": {...}}

The north-rule metric (tile-assignment rows/s + N vs 4N scaling efficiency)
is reported by scripts/scaling.py into BASELINE.md; this file is the per-round
driver entry point.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

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
from geo_epic_spark.session import get_spark  # noqa: E402

# bench fixture scales (spatial rows are synthesized — the engine's input
# table per BASELINE.json; relational/text queries use the driver's sf dir)
N_IMG = int(os.environ.get("BENCH_N_IMG", "1000000"))
N_DECODE = int(os.environ.get("BENCH_N_DECODE", "4000"))
# round-5 kernel-class fixtures (r4 VERDICT item 2: the aggregate-scatter,
# banded-hamming, lexical-retrieval and compressed-ANN classes were unbenched
# — a regression there was invisible to the driver). Sizes picked so each
# timed run lands ~2-5 s on a quiet local[32] — big enough that the kernel
# (not fixed overhead) dominates, small enough that the suite with its
# noise-gate retries stays inside the driver's budget; the 1M+/48M-cell
# points live in scripts/scaling.py + BASELINE.md, not the per-round gate.
N_HAM = int(os.environ.get("BENCH_N_HAM", "250000"))
FOCAL_NR = int(os.environ.get("BENCH_FOCAL_NR", "1500"))
FOCAL_NC = int(os.environ.get("BENCH_FOCAL_NC", "2000"))
N_BM25 = int(os.environ.get("BENCH_N_BM25", "50000"))
N_PQ = int(os.environ.get("BENCH_N_PQ", "100000"))
WARM = os.environ.get("BENCH_WARM", "1") != "0"
N_RUNS = int(os.environ.get("BENCH_RUNS", "3"))
# ambient-noise gate: hypervisor neighbors idle around load 6-18 on this
# box (BASELINE.md); retry a query's timed set when the pre-set 1-minute
# load sample exceeds this. r3 VERDICT: the old default (20) let a
# load-15.5-16.6 driver run pass every gate yet read 25% over the clean
# floor — 8 rejects those sets outright.
LOAD_MAX = float(os.environ.get("BENCH_LOAD_MAX", "8"))
MAX_RETRIES = int(os.environ.get("BENCH_MAX_RETRIES", "2"))
# calibration-probe gate: the 1-minute load average LAGS a neighbor burst by
# up to a minute (a measured 9x-inflated suite sailed through load_pre=2.1),
# so the primary gate is a fixed CPU probe timed immediately before each
# query's timed set — when the probe runs slow vs the session's best, the
# box is contended RIGHT NOW and we wait (bounded by a global sleep budget)
# for the burst to pass. Witnesses (probe ms per query) land in the JSON.
# r3 VERDICT: 1.6x let a 582ms-probe set stand; 1.3x is the tightest factor
# that still clears the probe's own quiet-window jitter (33-44ms best,
# occasional 50ms samples with zero neighbors).
NOISE_FACTOR = float(os.environ.get("BENCH_NOISE_FACTOR", "1.3"))
NOISE_SLEEP = float(os.environ.get("BENCH_NOISE_SLEEP", "15"))
# global wait-for-quiet budget. 150 s was sized for the 7-query suite; at
# 11 queries the worst case (every set retried under a burst) already runs
# ~6 min of MEASUREMENT, so cap waiting at 90 s — a shorter budget only
# converts waiting into honestly-flagged sets (the retries still keep
# best-of across sets), it never un-flags a contaminated one.
NOISE_BUDGET = float(os.environ.get("BENCH_NOISE_BUDGET", "90"))
N_POLY = 2000
GRID = (200, 320, 0.015625)

import numpy as np  # noqa: E402

_CAL_A = np.random.Generator(np.random.PCG64(5)).standard_normal((1200, 1200))

# deterministic PQ codebooks (m=8 subspaces x 16 codes x 8 dims, seeded —
# bench-only fixture; the oracle-verified codebook path is q_pq_topk's)
_PQ_CODEBOOKS = [
    [[float(x) for x in code] for code in cb]
    for cb in np.random.Generator(np.random.PCG64(7)).uniform(
        -1.0, 1.0, (8, 16, 8)
    )
]


def _probe() -> float:
    """Seconds for a fixed matmul — a direct witness of CPU available NOW
    (BLAS threads contend with neighbor bursts exactly like Spark tasks)."""
    t0 = time.time()
    (_CAL_A @ _CAL_A).sum()
    return time.time() - t0


class _NoiseGate:
    """Track the session-best probe time; before a timed set, wait (within a
    global sleep budget) until the probe is within NOISE_FACTOR of the best."""

    def __init__(self) -> None:
        self.best = min(_probe() for _ in range(3))
        self.budget = NOISE_BUDGET

    def wait_for_quiet(self) -> list[float]:
        samples = []
        while True:
            c = _probe()
            self.best = min(self.best, c)
            samples.append(round(c * 1000))
            if c <= self.best * NOISE_FACTOR or self.budget <= 0:
                return samples
            self.budget -= NOISE_SLEEP
            time.sleep(NOISE_SLEEP)


def _count(df) -> int:
    return df.count()


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
            lambda: _count(pip_join(imgs, flds, res=0.05, lon="cx", lat="cy")),
            N_IMG,
        ),
        "nearest_grid": (
            # max_ring=1: the bench grid covers the AOI at spacing == res, so
            # ring-1 provably contains the nearest cell (J2 raster-sampling
            # case) — single broadcast join + min_by, no escalation actions
            lambda: _count(
                nearest_grid_join(
                    imgs, grid, res=GRID[2], point_id="i", point_lon="cx",
                    point_lat="cy", max_ring=1, fallback="drop",
                )
            ),
            N_IMG,
        ),
        "zonal_stats": (
            lambda: _count(
                zonal_stats(
                    synth.soil_grid_df(spark, 300, 500, 0.00901),
                    flds,
                    value="mukey",
                    res=0.05,
                    stats=("mean", "median", "count"),
                )
            ),
            300 * 500,
        ),
        "pricing_summary": (
            lambda: _count(
                li.groupBy("l_returnflag", "l_linestatus").agg(
                    F.sum("l_quantity"), F.avg("l_discount"), F.count(F.lit(1))
                )
            ),
            None,
        ),
        "minhash_lsh": (
            # partitions: the sf dir ships one parquet file; spread the
            # shingle stage across the slots instead of one serial task
            lambda: _count(
                minhash_lsh_pairs(
                    docs, threshold=0.125, num_hashes=64, bands=32, partitions=64
                )
            ),
            None,
        ),
        "cosine_topk": (
            lambda: _count(
                cosine_topk(
                    emb,
                    emb.filter("vec_id < 20").select(
                        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
                    ),
                    k=10,
                )
            ),
            None,
        ),
        # --- round-5 kernel classes (r4 VERDICT item 2) ---
        # banded-hamming class: pigeonhole block join + popcount verify over
        # 64-bit phashes with planted <=2-bit near-dups (~n/16 true pairs)
        "hamming_near_dup": (
            lambda: _count(
                hamming_near_dup_pairs(
                    synth.phashes_synth_df(spark, N_HAM),
                    key="img_id", hash_col="phash", max_hamming=4,
                    expected_n=N_HAM,
                )
            ),
            N_HAM,
        ),
        # aggregate-scatter class: 3x3 focal mean/min/max/count over a
        # 3M-cell raster-as-table (9x explode -> one hash agg)
        "focal_stats": (
            lambda: _count(
                focal_stats(
                    synth.soil_grid_df(spark, FOCAL_NR, FOCAL_NC, 0.001),
                    nc=FOCAL_NC, nr=FOCAL_NR, value="mukey",
                )
            ),
            FOCAL_NR * FOCAL_NC,
        ),
        # lexical-retrieval class: BM25 top-10 for 8 x 50-term queries over
        # an N_BM25-doc synthetic corpus, 50k docs by default (dl computed
        # before explode; no corpus-joins-corpus anywhere)
        "bm25_topk": (
            lambda: _count(
                bm25_topk(
                    synth.documents_synth_df(spark, N_BM25),
                    synth.documents_synth_df(spark, N_BM25)
                    .filter(F.col("doc_id") % (N_BM25 // 8) == 7)
                    .select(F.col("doc_id").alias("q_id"),
                            F.col("text").alias("q_text")),
                    key="doc_id", k=10,
                )
            ),
            N_BM25,
        ),
        # compressed-ANN class: Arrow PQ encode (m=8 subspaces x 16 codes,
        # one vectorized argmin per batch — the 10^9-row kernel; the
        # interpreted-HOF pq_encode stays the oracle path) + ADC top-10 for
        # 8 queries over 64-dim vectors
        "pq_topk": (
            lambda: _count(
                pq_topk(
                    pq_encode_arrow(
                        synth.embeddings_synth_df(spark, N_PQ), _PQ_CODEBOOKS
                    ),
                    synth.embeddings_synth_df(spark, N_PQ)
                    .filter(F.col("vec_id") % (N_PQ // 8) == 3)
                    .select(F.col("vec_id").alias("q_id"),
                            F.col("embedding").alias("q_vec")),
                    _PQ_CODEBOOKS, k=10,
                )
            ),
            N_PQ,
        ),
        # payload axis: generate -> encode -> decode -> feature-extract over
        # Arrow batches (images/sec throughput of the multimodal stage)
        "image_decode": (
            lambda: _count(
                full_images_df(spark, N_DECODE)
                .select("i", "fmt", decode_stats("bytes", "fmt").alias("s"))
                .filter(F.col("s.mean_lum") >= 0)
            ),
            N_DECODE,
        ),
    }
    # pin the nearest_grid covered-raster fast path: max_ring=1 +
    # fallback='drop' must compile to ONE BroadcastHashJoin and no Union
    # (a silent fallback to the escalating path was the prime suspect for a
    # 10x-off driver measurement in round 1 — make it impossible)
    from geo_epic_spark.plans.checks import formatted_plan

    import re

    ng_plan = formatted_plan(
        nearest_grid_join(
            imgs, grid, res=GRID[2], point_id="i", point_lon="cx",
            point_lat="cy", max_ring=1, fallback="drop",
        )
    )
    n_joins = len(re.findall(r"\(\d+\) BroadcastHashJoin", ng_plan))
    assert n_joins == 1 and "Union" not in ng_plan, (
        "nearest_grid fast-path plan regressed:\n" + ng_plan
    )

    out = {}
    gate = _NoiseGate()
    for name, (fn, rows) in defs.items():
        if WARM:
            # warm run pays one-off codegen + broadcast build + Python-worker
            # spawn; then n timed runs reporting best AND median — C2 JIT of
            # the generated join code often lands only during the first
            # full-size pass, and ambient hypervisor noise spikes individual
            # runs (BENCH_WARM=0 reports a single cold run instead)
            fn()
            # noise gate (r2 VERDICT item 9): sample ambient load BEFORE the
            # timed set (mid-run load includes our own threads and would
            # self-trigger); when the pre-set sample exceeds BENCH_LOAD_MAX,
            # re-run the whole timed set up to BENCH_MAX_RETRIES more times
            # and keep best/median across ALL sets — retries can only
            # improve, and the JSON records (load, retries) per query so a
            # polluted measurement is visible instead of silent (r1's
            # nearest_grid outlier).
            times, n, loads, retries = [], 0, [], 0
            cal_ms = []
            while True:
                cal_ms += gate.wait_for_quiet()
                loads.append(round(os.getloadavg()[0], 1))
                for _ in range(max(N_RUNS, 2)):
                    t0 = time.time()
                    n = fn()
                    times.append(time.time() - t0)
                # retry the whole timed set when EITHER witness says the set
                # ran contended: laggy 1-min load above the hard gate, or the
                # post-set probe still far off the session best
                post = _probe()
                gate.best = min(gate.best, post)
                cal_ms.append(round(post * 1000))
                noisy = loads[-1] > LOAD_MAX or post > gate.best * NOISE_FACTOR
                if not noisy or retries >= MAX_RETRIES:
                    break
                retries += 1
            times.sort()
            dt = times[0]
            med = times[len(times) // 2]
            clean = not noisy
        else:
            t0 = time.time()
            n = fn()
            dt = med = time.time() - t0
            loads, retries, cal_ms = [round(os.getloadavg()[0], 1)], 0, []
            clean = None
        out[name] = {
            "sec": round(dt, 3), "median_sec": round(med, 3), "result_rows": n,
            "load_pre": loads, "noise_retries": retries, "cal_ms": cal_ms,
            "clean": clean,
        }
        if rows:
            out[name]["rows_per_sec"] = round(rows / dt)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(cpus, "geo-epic-bench")
    # warm the JVM/UDF path once so timings measure the engine, not startup
    _count(synth.images_meta_df(spark, 1000))
    res = bench_queries(spark, sf_dir)
    total = round(sum(v["sec"] for v in res.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline suite wall time (flagship: tile_assign rows/s)",
                "value": total,
                "unit": "sec",
                # round-over-round continuity: the suite grew from 7 to 11
                # queries in r5 (VERDICT item 2) — this is the sum over the
                # original 7 so r1-r4 totals stay comparable
                "value_r4_subset": round(
                    sum(res[k]["sec"] for k in (
                        "tile_assign", "nearest_grid", "zonal_stats",
                        "pricing_summary", "minhash_lsh", "cosine_topk",
                        "image_decode") if k in res), 3),
                "queries": {k: v["sec"] for k, v in res.items()},
                "median": {k: v["median_sec"] for k, v in res.items()},
                "runs_per_query": N_RUNS,
                # ambient-noise witness: hypervisor neighbors routinely push
                # load >10 with zero local processes (see BASELINE.md) —
                # interpret outlier queries against this
                "load_avg_1m": round(os.getloadavg()[0], 1),
                "load_pre": {k: v["load_pre"] for k, v in res.items()},
                "noise_retries": {k: v["noise_retries"] for k, v in res.items()},
                "cal_ms": {k: v["cal_ms"] for k, v in res.items()},
                "load_max_gate": LOAD_MAX,
                "noise_factor_gate": NOISE_FACTOR,
                # self-flagging contamination witness (r3 VERDICT item 2):
                # queries whose FINAL timed set still failed a gate after
                # exhausting retries — a suite with entries here is a noisy
                # reading, not an engine regression; compare against the
                # witness-clean floor in BASELINE.md instead
                "noisy_queries": [
                    k for k, v in res.items() if v.get("clean") is False
                ],
                "sf": sf_dir.rstrip("/").split("sf")[-1],
                "n_images": N_IMG,
                "rows_per_sec": {
                    k: v["rows_per_sec"] for k, v in res.items() if "rows_per_sec" in v
                },
                "result_rows": {k: v["result_rows"] for k, v in res.items()},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
