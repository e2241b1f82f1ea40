"""The two workloads and the ingest probe: their ops, each op's output
digest, and the reference checks that prove the outputs right.

An op is timed from the public operator call to the return of its action.
For a DataFrame op the action is ``digest``: one aggregate that returns the
row count and an order-insensitive checksum, so the whole result is computed
but only two numbers reach the Spark driver.  Write ops (layout, resume) are timed
to the return of the write; their digest is read back after the timer stops.
"""

from __future__ import annotations

import os
import shutil
import zlib
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_epic_spark.geometry import points_in_polygon
from geo_epic_spark.images import codec
from geo_epic_spark.images.udfs import decode_stats
from geo_epic_spark.operators.dedup import minhash_lsh_pairs
from geo_epic_spark.operators.resume import invalidate_partitions, run_with_resume
from geo_epic_spark.operators.similarity import pq_encode_arrow, pq_topk
from geo_epic_spark.operators.spatial import (
    bbox_join,
    nearest_grid_join,
    pip_join,
    zonal_stats,
)
from geo_epic_spark.sources.layout import bbox_scan, write_zorder_layout

from perfbench import fixtures

PIP_RES = 0.05  # cover-cell size for pip_join / zonal_stats (degrees)
TOPK = 10
MINHASH_THRESHOLD = 0.5
ZPREFIX_BITS = 16  # layout directory prefix: ~30 zp partitions over the AOI
LAYOUT_FILES = 16
INVALIDATE_SHARE = 8  # the resumed run recomputes 1/8 of the partitions

# Check-size inputs: small enough for brute-force numpy references.
CHECK_SCALE = {"site_assign": 0.05, "curate": 0.08}


class CheckFailed(Exception):
    """An op's output disagrees with its reference."""


def digest(df: DataFrame, cols: list[str] | None = None) -> tuple[int, int]:
    """(rows, checksum): the checksum sums a 31-bit slice of each row's
    xxhash64, so it is order-insensitive, counts duplicate rows, and cannot
    overflow a long."""
    cols = sorted(cols or df.columns)
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 31))),
    ).collect()[0]
    return int(row[0]), int(row[1] or 0)


@dataclass
class Op:
    """One benchmark operation.  ``run`` is the timed body; ``prepare``
    (untimed) runs before each attempt; ``result`` (untimed) turns the
    body's return value into the digest compared across rounds."""

    name: str
    metric: str
    run: Callable
    prepare: Callable | None = None
    result: Callable | None = None


class Ctx:
    """What an op sees: the session, the written inputs, a scratch root and
    the span recorder.  ``notes`` carries what the checks need: digests,
    collected rows and the resume counts."""

    def __init__(self, spark: SparkSession, workload: str, seed: int, scale: float,
                 inputs: fixtures.Inputs, work: str, spans):
        self.spark = spark
        self.workload, self.seed, self.scale = workload, seed, scale
        self.inputs = inputs
        self.work = work
        self.spans = spans
        self.notes: dict = {"rows": {}, "digests": {}}

    def table(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.inputs.paths[name])

    def small(self) -> "Ctx":
        """A context over check-size inputs of the same seed (built once)."""
        if "small" not in self.notes:
            inputs = fixtures.MAKERS[self.workload](
                self.seed, CHECK_SCALE[self.workload] * self.scale,
                os.path.join(self.work, "check"))
            self.notes["small"] = Ctx(self.spark, self.workload, self.seed, self.scale,
                                      inputs, self.work, self.spans)
        return self.notes["small"]


def df_op(name: str, metric: str, build: Callable[[Ctx], DataFrame]) -> Op:
    def run(ctx: Ctx):
        with ctx.spans.span("plan", op=name):
            df = build(ctx)
        with ctx.spans.span("action", op=name):
            return digest(df)
    return Op(name, metric, run)


def rows_digest(rows) -> tuple[int, int]:
    """(rows, checksum) of collected rows, order-insensitive."""
    return len(rows), sum(zlib.crc32(repr(tuple(r)).encode()) for r in rows)


def collect_op(name: str, metric: str, build: Callable[[Ctx], DataFrame]) -> Op:
    """An op whose result is small by nature (top-k, duplicate pairs): the
    action collects it, and the checks read the collected rows."""
    def run(ctx: Ctx):
        with ctx.spans.span("plan", op=name):
            df = build(ctx)
        with ctx.spans.span("action", op=name):
            rows = df.collect()
        ctx.notes["rows"][name] = rows
        return rows_digest(rows)
    return Op(name, metric, run)


# ---------------------------------------------------------------- site_assign

def _pip(ctx: Ctx) -> DataFrame:
    return pip_join(ctx.table("points"), ctx.table("polys").select("poly_id", "xs", "ys"),
                    res=PIP_RES, lon="cx", lat="cy")


def _nearest(ctx: Ctx) -> DataFrame:
    # max_ring=1 + fallback='drop' is the covered-raster path: the lattice
    # spans the AOI at spacing == res, so ring 1 holds every nearest cell
    return nearest_grid_join(ctx.table("points"), ctx.table("grid"), res=fixtures.GRID_SPACING,
                             point_id="i", point_lon="cx", point_lat="cy",
                             max_ring=1, fallback="drop")


def _zonal(ctx: Ctx) -> DataFrame:
    return zonal_stats(ctx.table("soil"), ctx.table("polys").select("poly_id", "xs", "ys"),
                       value="mukey", res=PIP_RES, stats=("mean", "median", "count"))


def bbox_candidates(ctx: Ctx) -> int:
    """Candidate rows of the bbox-only join on the pip_join inputs: the
    denominator of the refine accept ratio."""
    boxes = ctx.table("polys").select("poly_id", "x0", "y0", "x1", "y1")
    return bbox_join(ctx.table("points"), boxes, res=PIP_RES, lon="cx", lat="cy").count()


def frame(ctx: Ctx, name: str) -> pd.DataFrame:
    return pd.read_parquet(ctx.inputs.paths[name])


def check_pip(ctx: Ctx) -> dict:
    """pip_join against a brute-force ray cast of every point in every polygon."""
    ctx = ctx.small()
    pts, polys = frame(ctx, "points"), frame(ctx, "polys")
    got = {(int(r.i), int(r.poly_id)) for r in _pip(ctx).collect()}
    want = set()
    for pid, xs, ys in zip(polys.poly_id, polys["xs"], polys["ys"]):
        inside = points_in_polygon(pts.cx.to_numpy(), pts.cy.to_numpy(), xs, ys)
        want |= {(int(i), int(pid)) for i in pts.i.to_numpy()[inside]}
    if got != want:
        raise CheckFailed(f"pip_join: {len(got ^ want)} pairs differ from brute force")
    return {"pairs": len(want)}


def check_nearest(ctx: Ctx) -> dict:
    """nearest_grid_join against argmin distance over the whole lattice."""
    ctx = ctx.small()
    pts, grid = frame(ctx, "points"), frame(ctx, "grid")
    got = {int(r.i): int(r.grid_id) for r in _nearest(ctx).collect()}
    gx, gy, gid = grid.lon.to_numpy(), grid.lat.to_numpy(), grid.grid_id.to_numpy()
    want = {}
    for lo in range(0, len(pts), 256):
        px = pts.cx.to_numpy()[lo:lo + 256, None]
        py = pts.cy.to_numpy()[lo:lo + 256, None]
        d = (px - gx) * (px - gx) + (py - gy) * (py - gy)
        for i, k in zip(pts.i.to_numpy()[lo:lo + 256], d.argmin(1)):
            want[int(i)] = int(gid[k])
    if got != want:
        bad = sum(got.get(i) != g for i, g in want.items())
        raise CheckFailed(f"nearest_grid_join: {bad} points differ from argmin distance")
    return {"points": len(want)}


def check_zonal(ctx: Ctx) -> dict:
    """zonal_stats against per-field pandas stats of the cells inside each field."""
    ctx = ctx.small()
    polys, soil = frame(ctx, "polys"), frame(ctx, "soil")
    got = {int(r.poly_id): (r.mukey_mean, r.mukey_median, int(r.n_cells))
           for r in _zonal(ctx).collect()}
    want = {}
    for pid, xs, ys in zip(polys.poly_id, polys["xs"], polys["ys"]):
        v = soil.mukey.to_numpy()[points_in_polygon(soil.lon.to_numpy(), soil.lat.to_numpy(), xs, ys)]
        if len(v):
            want[int(pid)] = (float(v.mean()), float(np.median(v)), len(v))
    if got.keys() != want.keys() or any(
        abs(got[k][0] - w[0]) > 1e-9 or got[k][1] != w[1] or got[k][2] != w[2]
        for k, w in want.items()
    ):
        raise CheckFailed("zonal_stats: per-field stats differ from pandas")
    return {"fields": len(want)}


SITE_ASSIGN = [
    df_op("pip_join", "pip_join_s", _pip),
    df_op("nearest_grid_join", "nearest_grid_s", _nearest),
    df_op("zonal_stats", "zonal_stats_s", _zonal),
]


# --------------------------------------------------------------------- curate

def _pq(ctx: Ctx) -> DataFrame:
    cbs = ctx.inputs.meta["codebooks"]
    return pq_topk(pq_encode_arrow(ctx.table("vectors"), cbs), ctx.table("queries"), cbs, k=TOPK)


def _minhash(ctx: Ctx) -> DataFrame:
    return minhash_lsh_pairs(ctx.table("captions"), threshold=MINHASH_THRESHOLD,
                             text="caption", key="doc_id")


def _decode(ctx: Ctx) -> DataFrame:
    return ctx.table("images").select("image_id", "w", "h",
                                      decode_stats("bytes", "fmt").alias("s"))


def numpy_adc_topk(vectors: np.ndarray, ids: np.ndarray, queries: np.ndarray,
                   codebooks, k: int) -> list[list[tuple[int, float]]]:
    """Reference PQ: encode each sub-vector to its nearest code by exact
    squared distance, then score every code row against each query's
    lookup table, summing subspaces left to right; rank by (distance, id)."""
    cbs = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = cbs.shape
    codes = np.empty((len(vectors), m), dtype=np.int64)
    for s in range(m):
        sub = vectors[:, s * dsub:(s + 1) * dsub]
        codes[:, s] = ((sub[:, None, :] - cbs[s][None]) ** 2).sum(2).argmin(1)
    out = []
    for q in queries:
        lut = np.zeros(cbs.shape[:2])
        for s in range(m):
            for t in range(dsub):  # same left-to-right fold as the engine's LUT
                lut[s] += (q[s * dsub + t] - cbs[s, :, t]) ** 2
        adc = np.zeros(len(vectors))
        for s in range(m):
            adc = adc + lut[s][codes[:, s]]
        order = np.lexsort((ids, adc))[:k]
        out.append([(int(ids[j]), float(adc[j])) for j in order])
    return out


def word_jaccard(a: str, b: str, n: int = 3) -> float:
    def grams(t):
        w = t.split()
        return {" ".join(w[i:i + n]) for i in range(max(len(w) - n, 0) + 1)}
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


def check_pq(ctx: Ctx) -> dict:
    """The collected top-k against a numpy ADC scan of the same vectors."""
    vec, q = frame(ctx, "vectors"), frame(ctx, "queries")
    want = numpy_adc_topk(np.stack(vec.embedding.to_numpy()), vec.vec_id.to_numpy(),
                          np.stack(q.q_vec.to_numpy()), ctx.inputs.meta["codebooks"], TOPK)
    got: dict[int, list] = {}
    for r in sorted(ctx.notes["rows"]["pq_topk"], key=lambda r: (r.q_id, r.rank)):
        got.setdefault(int(r.q_id), []).append((int(r.vec_id), float(r.adc_dist)))
    for qid, w in zip(q.q_id, want):
        g = got.get(int(qid), [])
        if [i for i, _ in g] != [i for i, _ in w] or any(
                abs(a[1] - b[1]) > 1e-9 * max(1.0, abs(b[1])) for a, b in zip(g, w)):
            raise CheckFailed(f"pq_topk: query {qid} top-{TOPK} differs from numpy ADC scan")
    return {"queries": len(want)}


def check_minhash(ctx: Ctx) -> dict:
    """Every reported pair has its exact word-3-gram Jaccard >= threshold,
    and every planted near-duplicate is reported."""
    caps = frame(ctx, "captions").caption.to_numpy()
    pairs = {(int(r.id_a), int(r.id_b)): float(r.jaccard)
             for r in ctx.notes["rows"]["minhash_lsh_pairs"]}
    for (a, b), jac in pairs.items():
        exact = word_jaccard(caps[a], caps[b])
        if abs(exact - jac) > 1e-12 or jac < MINHASH_THRESHOLD:
            raise CheckFailed(f"minhash_lsh_pairs: pair {a},{b} jaccard {jac} vs exact {exact}")
    missed = [p for p in ctx.inputs.meta["planted"] if p not in pairs]
    if missed:
        raise CheckFailed(f"minhash_lsh_pairs: {len(missed)} planted near-duplicates missed")
    return {"pairs": len(pairs), "planted": len(ctx.inputs.meta["planted"])}


def check_decode(ctx: Ctx) -> dict:
    """decode_stats against a numpy decode of each payload, and the decoded
    mean within the lossy codec's error of the source pixels."""
    ctx = ctx.small()
    pool, pick = ctx.inputs.meta["pool"], ctx.inputs.meta["pick"]
    n = 0
    for r in _decode(ctx).collect():
        img = pool[pick[int(r.image_id)]]
        arr = codec.decode_image(img["bytes"], img["fmt"])
        s = r.s
        if (s.dec_w, s.dec_h) != (img["w"], img["h"]) or s.phash_rt != codec.phash64(arr) \
                or abs(s.mean_lum - float(arr.astype(np.float64).mean())) > 1e-9 \
                or abs(s.mean_lum - img["src_mean"]) > 2.5:
            raise CheckFailed(f"decode_stats: image {r.image_id} stats differ from numpy decode")
        n += 1
    if n != len(pick):
        raise CheckFailed(f"decode_stats: {n} rows for {len(pick)} images")
    return {"images": n}


CURATE = [
    collect_op("pq_topk", "pq_topk_s", _pq),
    collect_op("minhash_lsh_pairs", "minhash_lsh_s", _minhash),
    df_op("decode_stats", "image_decode_s", _decode),
]


# ------------------------------------------------- ingest probe (traced only)
#
# write_zorder_layout, bbox_scan and run_with_resume run once, on the
# site_assign points, in site_assign's traced round: run_with_resume alone
# takes ~12 s warm and ~22 s cold whatever the input size, which no timed
# round fits.  Their layer numbers (layout.*, resume.*) come from here.

def _layout_path(ctx: Ctx) -> str:
    return os.path.join(ctx.work, "layout")


def _layout(ctx: Ctx):
    with ctx.spans.span("action", op="write_zorder_layout"):
        write_zorder_layout(ctx.table("points"), _layout_path(ctx), n_files=LAYOUT_FILES,
                            partition_prefix_bits=ZPREFIX_BITS)


def _layout_result(ctx: Ctx, _):
    return digest(ctx.spark.read.parquet(_layout_path(ctx)))


def _scan_one(ctx: Ctx, win) -> DataFrame:
    return bbox_scan(ctx.spark, _layout_path(ctx), *win, partition_prefix_bits=ZPREFIX_BITS)


def _scans(ctx: Ctx):
    out = []
    for win in ctx.inputs.meta["windows"]:
        with ctx.spans.span("plan", op="bbox_scan"):
            df = _scan_one(ctx, win)
        with ctx.spans.span("action", op="bbox_scan"):
            row = df.agg(F.count(F.lit(1)), F.sum("i"),
                         F.sum(F.pmod(F.xxhash64(*sorted(df.columns)), F.lit(1 << 31)))).collect()[0]
        out.append((int(row[0]), int(row[1] or 0), int(row[2] or 0)))
    return out


RESUME_COLS = ["i", "zp", "grid_id", "nn_dist"]


def _resume_paths(ctx: Ctx) -> tuple[str, str]:
    return os.path.join(ctx.work, "resume_out"), os.path.join(ctx.work, "resume_manifest")


def _resume_prepare(ctx: Ctx):
    for p in _resume_paths(ctx):
        shutil.rmtree(p, ignore_errors=True)


def _resume_work(ctx: Ctx) -> DataFrame:
    return ctx.spark.read.parquet(_layout_path(ctx)).select("i", "cx", "cy", "zp")


def _assign_weather(ctx: Ctx) -> Callable[[DataFrame], DataFrame]:
    grid = ctx.table("grid")

    def process(df: DataFrame) -> DataFrame:
        return nearest_grid_join(df, grid, res=fixtures.GRID_SPACING, point_id="i",
                                 point_lon="cx", point_lat="cy", max_ring=1,
                                 fallback="drop").select("i", "zp", "grid_id", "nn_dist")
    return process


def invalidated_partitions(ctx: Ctx, parts: list[str]) -> list[str]:
    rng = np.random.Generator(np.random.PCG64(ctx.inputs.meta["invalidate_seed"]))
    k = max(1, len(parts) // INVALIDATE_SHARE)
    return sorted(str(p) for p in rng.choice(sorted(parts), k, replace=False))


def _resume(ctx: Ctx):
    out, manifest = _resume_paths(ctx)
    with ctx.spans.span("plan", op="run_with_resume"):
        work = _resume_work(ctx)
        process = _assign_weather(ctx)
    with ctx.spans.span("action", op="run_with_resume"):
        full = run_with_resume(ctx.spark, work, "zp", process, out, manifest, run_id="full")
        parts = [r.partition_id for r in ctx.spark.read.parquet(manifest)
                 .select("partition_id").collect()]
        drop = invalidated_partitions(ctx, parts)
        invalidate_partitions(ctx.spark, manifest, drop)
        resumed = run_with_resume(ctx.spark, work, "zp", process, out, manifest, run_id="resumed")
    return {"full_partitions": full["partitions"], "invalidated": len(drop),
            "partitions_run": resumed["partitions"], "rows_written": resumed["rows_out"],
            "full_rows": full["rows_out"]}


def _resume_result(ctx: Ctx, info: dict):
    if info["partitions_run"] != info["invalidated"]:
        raise CheckFailed(f"run_with_resume: resumed {info['partitions_run']} partitions, "
                          f"invalidated {info['invalidated']}")
    ctx.notes["resume"] = info
    return digest(ctx.spark.read.parquet(_resume_paths(ctx)[0]), RESUME_COLS)


def check_bbox_scan(ctx: Ctx) -> dict:
    """Each window's rows and id sum against a plain filter of the
    generated table."""
    img = frame(ctx, "points")
    cx, cy, ids = img.cx.to_numpy(), img.cy.to_numpy(), img.i.to_numpy()
    for win, (n, isum, _) in zip(ctx.inputs.meta["windows"], ctx.notes["digests"]["bbox_scan"]):
        sel = (cx >= win[0]) & (cx <= win[2]) & (cy >= win[1]) & (cy <= win[3])
        if n != int(sel.sum()) or isum != int(ids[sel].sum()):
            raise CheckFailed(f"bbox_scan: window {win} differs from a plain filter")
    return {"windows": len(ctx.inputs.meta["windows"])}


def check_resume(ctx: Ctx) -> dict:
    """The resumed output against a from-scratch run of the same process."""
    resumed = tuple(ctx.notes["digests"]["run_with_resume"])
    scratch = digest(_assign_weather(ctx)(_resume_work(ctx)), RESUME_COLS)
    if scratch != resumed:
        raise CheckFailed(f"run_with_resume: resumed output {resumed} != from-scratch {scratch}")
    return {"rows": scratch[0]}


INGEST_PROBE = [
    Op("write_zorder_layout", "layout_write_s", _layout, result=_layout_result),
    Op("bbox_scan", "bbox_scan_s", _scans),
    Op("run_with_resume", "resume_s", _resume, prepare=_resume_prepare, result=_resume_result),
]


# Reference checks per op.  A check runs when its op has an ok attempt
# (the ingest probe's only in traced runs).
CHECKS = {
    "site_assign": {"pip_join": check_pip, "nearest_grid_join": check_nearest,
                    "zonal_stats": check_zonal, "bbox_scan": check_bbox_scan,
                    "run_with_resume": check_resume},
    "curate": {"pq_topk": check_pq, "minhash_lsh_pairs": check_minhash,
               "decode_stats": check_decode},
}

WORKLOADS = {"site_assign": SITE_ASSIGN, "curate": CURATE}
# ops run once in a workload's traced round, after its own ops
TRACE_EXTRAS = {"site_assign": INGEST_PROBE, "curate": []}
