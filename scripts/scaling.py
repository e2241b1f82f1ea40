"""North-rule scaling evidence: run the identical tile-assignment job at
local[nproc/4] (N) and local[nproc] (4N) on the same input and report
throughput at both plus efficiency = throughput(4N) / (4 * throughput(N)).

No real cluster exists in this sandbox; two parallelism levels on the same
box are the sanctioned stand-in (see BASELINE.md). Each level runs in a
FRESH subprocess/JVM (a stopped SparkContext leaves thread pools and codegen
caches behind that contaminate the second measurement), and the input is
sized so the job is compute-bound for tens of seconds — fixed overhead
(session start, broadcast build, Python<->JVM handshakes) must be amortized
or the measurement reads scheduler noise, not scaling.

Usage:
  python scripts/scaling.py            # orchestrate both levels, print JSON
  python scripts/scaling.py --run 8    # (internal) one measurement
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_IMG = int(os.environ.get("SCALING_N_IMG", "24000000"))
N_POLY = int(os.environ.get("SCALING_N_POLY", "2000"))
REPEATS = int(os.environ.get("SCALING_REPEATS", "2"))
# SCALING_OP=pip (default, the flagship tile-assignment join), minhash
# (the dedup family: minhash+LSH near-dup pairs over a synthetic corpus
# with planted neighbors — second-operator evidence that the scaling
# property is engine-wide, not one kernel's), or hamming (the image-axis
# dedup: banded hamming near-dup over synthetic 64-bit phashes with
# planted bit-flip twins — pure shuffle-join kernel, no Python stage)
OP = os.environ.get("SCALING_OP", "pip")
N_DOCS = int(os.environ.get("SCALING_N_DOCS", "300000"))
N_HASH = int(os.environ.get("SCALING_N_HASH", "8000000"))
# focal: single-Exchange scatter/aggregate map algebra over an N_CELLS DEM
# (nc fixed at 6000 columns) — the shuffle-AGGREGATE kernel class, distinct
# from the join-bound pip/minhash/hamming evidence
N_CELLS = int(os.environ.get("SCALING_N_CELLS", "24000000"))
# pq: Arrow PQ encode + broadcast ADC top-k over N_VECS synthetic 64-dim
# embeddings — the Pandas-UDF/Arrow kernel class (new r5)
N_VECS = int(os.environ.get("SCALING_N_VECS", "2000000"))
# N and 4N parallelism levels, default nproc/4 -> nproc. On a 32-core box the
# 8->32 pair saturated the socket's memory bandwidth probing the shared
# broadcast hash table (a single-box artifact a multi-executor cluster does
# not have — each executor holds its own broadcast copy), so the round-4/5
# evidence there used SCALING_CPUS=4,16.
_NPROC = os.cpu_count() or 1
CPU_LEVELS = tuple(
    int(x) for x in os.environ.get("SCALING_CPUS", f"{max(1, _NPROC // 4)},{_NPROC}").split(",")
)


def measure(cpus: int) -> dict:
    from geo_epic_spark import synth
    from geo_epic_spark.operators.spatial import pip_join
    from geo_epic_spark.session import get_spark

    spark = get_spark(cpus, f"scaling-{cpus}", extra_conf={
        # 4 tasks per core: the candidate count per partition varies with
        # polygon density, so finer tasks smooth stragglers at both levels.
        "spark.sql.shuffle.partitions": str(4 * cpus),
        "spark.default.parallelism": str(4 * cpus),
        "spark.locality.wait": "0",
    })
    if OP == "minhash":
        from geo_epic_spark.operators.dedup import minhash_lsh_pairs

        docs = synth.documents_synth_df(spark, N_DOCS)

        def job():
            return minhash_lsh_pairs(docs, threshold=0.5, num_hashes=64).count()
    elif OP == "hamming":
        from pyspark.sql import functions as F

        from geo_epic_spark.operators.dedup import hamming_near_dup_pairs

        i = F.col("id")
        # xxhash64 mixing, not linear-congruential bits: LCG-derived hashes
        # are adversarially degenerate for block banding (low bits of every
        # block encode i mod 2^k, so cross-block combos share entropy and
        # candidates blow up 33x) — real phashes behave like the mixed case
        h = F.xxhash64(i)
        base = spark.range(N_HASH).select(i.alias("img_id"), h.alias("phash"))
        mask = F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(id * 7, 63) AS INT))"
            " | shiftleft(CAST(1 AS BIGINT), CAST(pmod(id * 13, 63) AS INT))"
        )
        copies = (
            spark.range(N_HASH).filter("id % 20 = 0")
            .select((i + F.lit(N_HASH)).alias("img_id"),
                    h.bitwiseXOR(mask).alias("phash"))
        )
        hashes = base.unionAll(copies)

        def job():
            return hamming_near_dup_pairs(
                hashes, key="img_id", hash_col="phash", max_hamming=4,
                expected_n=N_HASH + N_HASH // 20,
            ).count()
    elif OP == "focal":
        from geo_epic_spark.operators.mapalgebra import focal_stats

        nc = 6000
        nr = N_CELLS // nc
        dem = synth.elev_grid_df(spark, nr, nc, 0.01)

        def job():
            return focal_stats(dem, nc=nc, nr=nr, value="elev",
                               stats=("mean", "count")).count()
    elif OP == "pq":
        # Arrow-kernel class (r5): vectorized PQ encode (mapInArrow-style
        # pandas_udf, the 10^9-row compressed-ANN path) + broadcast ADC
        # top-k — scaling evidence for the Python/Arrow stage family, which
        # pays per-batch JVM<->Python transfer the pure-JVM classes don't.
        import numpy as np
        from pyspark.sql import functions as F

        from geo_epic_spark.operators.similarity import pq_encode_arrow, pq_topk

        cb = [
            [[float(x) for x in code] for code in sub]
            for sub in np.random.Generator(np.random.PCG64(7)).uniform(
                -1.0, 1.0, (8, 16, 8))
        ]
        vecs = synth.embeddings_synth_df(spark, N_VECS)
        q = (
            synth.embeddings_synth_df(spark, N_VECS)
            .filter(F.col("vec_id") % (N_VECS // 8) == 3)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec"))
        )

        def job():
            return pq_topk(pq_encode_arrow(vecs, cb), q, cb, k=10).count()
    else:
        imgs = synth.images_meta_df(spark, N_IMG).select("i", "cx", "cy")
        flds = synth.fields_df(spark, N_POLY).select("poly_id", "xs", "ys")

        def job():
            return pip_join(imgs, flds, res=0.05, lon="cx", lat="cy").count()

    # warm-up: full-size run primes JVM JIT, codegen cache, broadcast
    load_pre = round(os.getloadavg()[0], 1)
    rows = job()
    reps = []
    for _ in range(REPEATS):
        t0 = time.time()
        job()
        reps.append(round(time.time() - t0, 2))
    spark.stop()
    # ambient-noise witnesses per level: load BEFORE this level's JVM started
    # is the neighbors' contribution (our own threads inflate it after), and
    # the per-rep spread catches bursts that arrive MID-run — on a quiet box
    # consecutive reps of this compute-bound job agree within a few percent,
    # so max/min >> 1 marks the level as contaminated even when load_pre was
    # low when it launched.
    return {"cpus": cpus, "sec": min(reps), "reps": reps, "result_rows": rows,
            "load_pre": load_pre}


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--run":
        print("RESULT " + json.dumps(measure(int(sys.argv[2]))))
        return
    lo, hi = CPU_LEVELS
    # Default runs the noise-sensitive HIGH level first: ambient bursts on
    # this shared box arrive every few minutes, so the level measured first
    # gets the freshly-observed quiet window; the low level leaves idle cores
    # of headroom and tolerates a burst far better than the high level does.
    # SCALING_LO_FIRST=1 restores the historical order.
    order = (lo, hi) if os.environ.get("SCALING_LO_FIRST") else (hi, lo)
    res = {}
    for cpus in order:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run", str(cpus)],
            capture_output=True, text=True, check=True,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")][-1]
        res[cpus] = json.loads(line[len("RESULT "):])
    n_rows = {"minhash": N_DOCS, "hamming": N_HASH, "focal": N_CELLS,
              "pq": N_VECS}.get(OP, N_IMG)
    thr_lo = n_rows / res[lo]["sec"]
    thr_hi = n_rows / res[hi]["sec"]
    eff = thr_hi / ((hi / lo) * thr_lo)
    print(json.dumps({
        "job": {"minhash": "minhash_lsh_pairs (dedup)",
                "hamming": "hamming_near_dup_pairs (image dedup)",
                "focal": "focal_stats (scatter/aggregate map algebra)",
                "pq": "pq_encode_arrow + pq_topk (Arrow ANN)"}.get(
                    OP, "tile_assign (PIP join)"),
        "n_images": n_rows,
        "n_polys": N_POLY,
        "result_rows": res[hi]["result_rows"],
        f"sec_local{lo}": round(res[lo]["sec"], 2),
        f"sec_local{hi}": round(res[hi]["sec"], 2),
        f"rows_per_sec_local{lo}": round(thr_lo),
        f"rows_per_sec_local{hi}": round(thr_hi),
        f"scaling_efficiency_{lo}_to_{hi}": round(eff, 3),
        f"load_pre_local{lo}": res[lo]["load_pre"],
        f"load_pre_local{hi}": res[hi]["load_pre"],
        f"reps_local{lo}": res[lo]["reps"],
        f"reps_local{hi}": res[hi]["reps"],
    }))


if __name__ == "__main__":
    main()
