"""North-rule scaling evidence on perfbench's seeded workloads.

    python scripts/scaling.py

For each workload (``site_assign``, ``curate``) every op of
``perfbench.workloads.WORKLOADS`` runs at two parallelism levels,
local[nproc/4] (N) and local[nproc] (4N), on the same seeded inputs
(``perfbench.fixtures``).  Each level is a fresh process and JVM: a stopped
SparkContext leaves thread pools and codegen caches behind that would
contaminate the next level.  Each op runs once to warm up, then TIMED more
times; its time is the best of those.  Efficiency is
throughput(4N) / (4 * throughput(N)), which for the same work is
t_N / (4 * t_4N).

One JSON line per workload gives each op's seconds at both levels, its
efficiency and its output digest.  ``pip_join`` and ``nearest_grid_join``
also report ``single_node_s``: the same join in one numpy process on the
same parquet, the way the reference computes it.  The exit status is 1 when
an op's digest differs between runs or levels, or a single-node baseline
returns a different row count than the engine.

Run nothing else on the host during a measurement.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from geo_epic_spark import cells  # noqa: E402
from geo_epic_spark.geometry import points_in_polygon  # noqa: E402
from geo_epic_spark.session import get_spark  # noqa: E402
from perfbench import fixtures, instrument, workloads  # noqa: E402

SEED = 1
TIMED = 2
# Input scale per workload, chosen by measurement so that most ops run 10-30 s
# at 4N; nearest_grid_join and pq_topk stay under 10 s (BASELINE.md says why).
SCALE = {"site_assign": 10.0, "curate": 30.0}


def single_node_pip(paths: dict) -> int:
    """Cell-bucket prefilter, then a ray cast of each polygon's candidates."""
    pts, polys = pd.read_parquet(paths["points"]), pd.read_parquet(paths["polys"])
    px, py = pts.cx.to_numpy(), pts.cy.to_numpy()
    cell = cells.np_cell_id(px, py, workloads.PIP_RES)
    order = np.argsort(cell, kind="stable")
    cell = cell[order]
    hits = 0
    for xs, ys in zip(polys["xs"], polys["ys"]):
        lo = int(cells.np_cell_id(xs.min(), ys.min(), workloads.PIP_RES))
        hi = int(cells.np_cell_id(xs.max(), ys.max(), workloads.PIP_RES))
        # one cell-id range per covering row: [row start, row start + width]
        width = (hi - lo) % cells._SHIFT
        ci = np.concatenate([order[np.searchsorted(cell, b):
                                   np.searchsorted(cell, b + width, "right")]
                             for b in range(lo, hi + 1, cells._SHIFT)])
        hits += int(points_in_polygon(px[ci], py[ci], xs, ys).sum())
    return hits


def single_node_nearest(paths: dict) -> int:
    """Closed-form snap to the regular lattice: what a BallTree nearest
    query reduces to on a lattice, and the fastest single-node form."""
    pts, grid = pd.read_parquet(paths["points"]), pd.read_parquet(paths["grid"])
    sp, nc = fixtures.GRID_SPACING, grid.lon.nunique()
    nr = len(grid) // nc
    col = np.clip(np.round((pts.cx.to_numpy() - grid.lon.min()) / sp), 0, nc - 1)
    row = np.clip(np.round((pts.cy.to_numpy() - grid.lat.min()) / sp), 0, nr - 1)
    return len(row.astype(np.int64) * nc + col.astype(np.int64))


SINGLE_NODE = {"pip_join": single_node_pip, "nearest_grid_join": single_node_nearest}


def measure(workload: str, cpus: int, work: str) -> dict:
    """One level: write the inputs, start local[cpus], time every op."""
    scale = SCALE[workload]
    inputs = fixtures.MAKERS[workload](SEED, scale, os.path.join(work, "inputs"))
    spark = get_spark(cpus, f"scaling-{workload}-{cpus}",
                      {"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    ctx = workloads.Ctx(spark, workload, SEED, scale, inputs, work,
                        instrument.Spans(enabled=False))
    ops = {}
    for op in workloads.WORKLOADS[workload]:
        secs, digests = [], []
        for _ in range(1 + TIMED):
            t0 = time.perf_counter()
            digests.append(list(op.run(ctx)))
            secs.append(time.perf_counter() - t0)
        ops[op.name] = {"s": min(secs[1:]), "digests": digests}
    spark.stop()
    return {"paths": inputs.paths, "ops": ops}


def efficiency(t_n: float, t_4n: float, ratio: float) -> float:
    """throughput(4N) / (ratio * throughput(N)) for the same work."""
    return t_n / (ratio * t_4n)


def summarize(levels: dict[int, dict]) -> tuple[dict, bool]:
    """Per op: seconds at both levels, efficiency and digest.  False when
    an op's digests are not all equal."""
    lo, hi = sorted(levels)
    out, ok = {}, True
    for name, a in levels[lo]["ops"].items():
        b = levels[hi]["ops"][name]
        digests = sorted({tuple(d) for d in a["digests"] + b["digests"]})
        ok &= len(digests) == 1
        out[name] = {f"local{lo}_s": round(a["s"], 3), f"local{hi}_s": round(b["s"], 3),
                     "efficiency": round(efficiency(a["s"], b["s"], hi / lo), 3),
                     "digest": digests[0] if len(digests) == 1 else digests}
    return out, ok


def run_workload(workload: str, cpu_levels: tuple[int, int]) -> bool:
    t0 = time.perf_counter()
    with tempfile.TemporaryDirectory(prefix=f"scaling-{workload}-") as work:
        levels = {}
        for cpus in cpu_levels:
            # from the repo root, so the Python workers that Spark starts with
            # ``python -m geo_epic_spark.worker_daemon`` import the package
            out = subprocess.run([sys.executable, os.path.abspath(__file__), "--run",
                                  workload, str(cpus), work],
                                 stdout=subprocess.PIPE, text=True, cwd=ROOT, check=True)
            line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")][-1]
            levels[cpus] = json.loads(line[len("RESULT "):])
        ops, ok = summarize(levels)
        for name, baseline in SINGLE_NODE.items():
            if name in ops:
                t1 = time.perf_counter()
                rows = baseline(levels[cpu_levels[0]]["paths"])
                ops[name].update(single_node_s=round(time.perf_counter() - t1, 3),
                                 single_node_rows=rows)
                ok &= rows == levels[cpu_levels[0]]["ops"][name]["digests"][0][0]
    print(json.dumps({"workload": workload, "scale": SCALE[workload], "seed": SEED,
                      "levels": list(cpu_levels), "ok": ok, "ops": ops,
                      "wall_s": round(time.perf_counter() - t0, 1)}), flush=True)
    return ok


def main() -> int:
    if sys.argv[1:2] == ["--run"]:
        workload, cpus, work = sys.argv[2], int(sys.argv[3]), sys.argv[4]
        print("RESULT " + json.dumps(measure(workload, cpus, work)))
        return 0
    nproc = os.cpu_count() or 1
    levels = (max(1, nproc // 4), nproc)
    results = [run_workload(w, levels) for w in fixtures.MAKERS]
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
