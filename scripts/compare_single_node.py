"""Engine vs reference-style single-node execution, same input, same box.

The reference executes eagerly in one Python process (pandas/numpy/BallTree;
`geoEpic/utils/raster_utils.py`, `utils/parallel.py` forks whole-site tasks
but each join runs single-process). This script reimplements the two
assignment joins the way the reference computes them — vectorized numpy in
one process, same cell-bucket candidate algorithm — and times them against
the Spark engine on identical synthesized input.

Prints one JSON line; numbers land in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from geo_epic_spark import cells, synth  # noqa: E402
from geo_epic_spark.geometry import points_in_polygon  # noqa: E402

N_IMG = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
N_POLY = 2000
RES = 0.05
GRID = (200, 320, 0.015625)


def single_node_pip(img: dict, fld: dict) -> int:
    """Reference-style PIP assignment: one process, numpy-vectorized,
    cell-bucket prefilter then exact ray cast per polygon (the same
    algorithm shape as `soil/sda.py` intersection queries executed
    client-side)."""
    px, py = img["cx"], img["cy"]
    pcell = cells.np_cell_id(px, py, RES)
    order = np.argsort(pcell, kind="stable")
    pcell_s = pcell[order]
    hits = 0
    for j in range(len(fld["poly_id"])):
        xs = np.array([fld["x0"][j], fld["x1"][j], fld["x1"][j], fld["x0"][j]])
        ys = np.array([fld["y0"][j], fld["y0"][j], fld["y1"][j], fld["y1"][j]])
        # covering cells of the polygon bbox
        r0 = int(np.floor((ys.min() + 90.0) / RES))
        r1 = int(np.floor((ys.max() + 90.0) / RES))
        c0 = int(np.floor((xs.min() + 180.0) / RES))
        c1 = int(np.floor((xs.max() + 180.0) / RES))
        cand_idx = []
        for r in range(r0, r1 + 1):
            base = r * (1 << 32)
            lo = np.searchsorted(pcell_s, base + c0, side="left")
            hi = np.searchsorted(pcell_s, base + c1, side="right")
            if hi > lo:
                cand_idx.append(order[lo:hi])
        if not cand_idx:
            continue
        ci = np.concatenate(cand_idx)
        inside = points_in_polygon(px[ci], py[ci], xs, ys)
        hits += int(inside.sum())
    return hits


def single_node_nearest(img: dict, nr: int, nc: int, sp: float) -> np.ndarray:
    """Reference-style nearest-grid assignment (`raster_utils.find_nearest`):
    for a regular lattice BallTree reduces to clamp+round; that is exactly
    what GeoInterface does conceptually — use the vectorized closed form (the
    fastest possible single-node implementation, favoring the reference)."""
    # lattice origin from grid_sql semantics: reproduce via one cell
    # (cheap): grid ids are row*nc+col on a lattice anchored like synth
    lon0, lat0 = -100.0 + sp / 2, 40.0 + sp / 2  # synth.AOI anchored lattice
    col = np.clip(np.round((img["cx"] - lon0) / sp), 0, nc - 1).astype(np.int64)
    row = np.clip(np.round((img["cy"] - lat0) / sp), 0, nr - 1).astype(np.int64)
    return row * nc + col


def main() -> None:
    img = synth.images_meta_np(N_IMG)
    fld_vals = {}
    # fields via numpy mirror of fields_sql arithmetic
    j = np.arange(N_POLY, dtype=np.int64)
    v1 = synth.u_np(j, synth.M[2], 29)
    v2 = synth.u_np(j, synth.M[3], 71)
    v3 = synth.u_np(j, synth.M[4], 5)
    v4 = synth.u_np(j, synth.M[5], 13)
    hot = (j % 4) == 0
    x0 = np.where(hot, synth.HOT["lon0"] + v1 * synth.HOT["w"],
                  synth.AOI["lon0"] + v1 * synth.AOI["w"])
    y0 = np.where(hot, synth.HOT["lat0"] + v2 * synth.HOT["h"],
                  synth.AOI["lat0"] + v2 * synth.AOI["h"])
    fld_vals = {"poly_id": j, "x0": x0, "y0": y0,
                "x1": x0 + 0.01 + v3 * 0.05, "y1": y0 + 0.008 + v4 * 0.04}

    t0 = time.time()
    pip_rows = single_node_pip(img, fld_vals)
    t_pip_single = time.time() - t0

    t0 = time.time()
    nn = single_node_nearest(img, *GRID)
    t_nn_single = time.time() - t0
    nn_rows = len(nn)

    # engine, same inputs
    from geo_epic_spark.operators.spatial import bbox_join, nearest_grid_join, pip_join
    from geo_epic_spark.session import get_spark

    spark = get_spark(32, "compare")
    imgs = synth.images_meta_df(spark, N_IMG).select("i", "cx", "cy")
    flds = synth.fields_df(spark, N_POLY).select("poly_id", "xs", "ys")
    grid = synth.grid_df(spark, *GRID)

    def eng_pip():
        return pip_join(imgs, flds, res=RES, lon="cx", lat="cy").count()

    flds_rect = synth.fields_df(spark, N_POLY).select("poly_id", "x0", "y0", "x1", "y1")

    def eng_bbox():
        return bbox_join(imgs, flds_rect, res=RES, lon="cx", lat="cy").count()

    def eng_nn():
        return nearest_grid_join(
            imgs, grid, res=GRID[2], point_id="i", point_lon="cx",
            point_lat="cy", max_ring=1, fallback="drop",
        ).count()

    eng_pip_rows = eng_pip()
    t_pip_engine = 1e18
    for _ in range(3):
        t0 = time.time(); eng_pip(); t_pip_engine = min(t_pip_engine, time.time() - t0)
    eng_bbox_rows = eng_bbox()
    t_bbox_engine = 1e18
    for _ in range(3):
        t0 = time.time(); eng_bbox(); t_bbox_engine = min(t_bbox_engine, time.time() - t0)
    eng_nn()
    t_nn_engine = 1e18
    for _ in range(3):
        t0 = time.time(); eng_nn(); t_nn_engine = min(t_nn_engine, time.time() - t0)
    spark.stop()

    assert eng_pip_rows == pip_rows, (eng_pip_rows, pip_rows)
    print(json.dumps({
        "n_images": N_IMG,
        "pip": {
            "rows": pip_rows,
            "single_node_sec": round(t_pip_single, 2),
            "engine_local32_sec": round(t_pip_engine, 2),
            "speedup": round(t_pip_single / t_pip_engine, 1),
        },
        "bbox_join_engine": {
            "rows": eng_bbox_rows,
            "engine_local32_sec": round(t_bbox_engine, 2),
            "speedup_vs_single_node_raycast": round(t_pip_single / t_bbox_engine, 1),
        },
        "nearest_grid": {
            "rows": nn_rows,
            "single_node_sec": round(t_nn_single, 2),
            "engine_local32_sec": round(t_nn_engine, 2),
            "speedup": round(t_nn_single / t_nn_engine, 1),
        },
    }))


if __name__ == "__main__":
    main()
