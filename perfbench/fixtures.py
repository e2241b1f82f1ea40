"""Seeded benchmark inputs, generated in numpy and written as parquet.

Every table is a pure function of ``(seed, scale)``: the same seed gives
byte-identical parquet, a different seed gives different rows of the same
shape.  Row counts depend only on ``scale``, so a run's amount of work does not
depend on its seed.  Tables are written as several files so Spark reads them
with one task per core, the way it reads a real table.

The generators are the benchmark's own (they are not ``geo_epic_spark.synth``,
whose fixtures take no seed); only the image payloads go through the
package's codec, so the bytes are real PNG / FJPG streams.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from geo_epic_spark.images import codec

# Area of interest and the dense hot cluster (20% of points land in ~0.2% of
# the area) - the same shape as the package's own fixtures.
AOI = (-100.0, 40.0, 5.0, 3.0)  # lon0, lat0, width, height (degrees)
HOT = (-97.0, 41.0, 0.2, 0.15)
HOT_SHARE = 0.2

# Weather lattice spacing; nearest_grid_join runs at res == spacing, so the
# ring-1 block provably holds the nearest lattice point (covered raster).
GRID_SPACING = 0.03125
N_FILES = 8

# Full-size row counts per workload; ``scale`` multiplies them.
SIZES = {
    "site_assign": dict(points=110_000, polys=1_000, soil_nr=400, soil_nc=660, windows=8),
    "curate": dict(vectors=30_000, queries=8, captions=8_000, images=3_000, image_pool=384),
}

# 4 subspaces x 16 codes over 16 dims: pq_topk builds its lookup-table
# expression per codebook entry, and at 8 x 16 x 8 planning alone took
# 2.6 s warm / 8 s cold on a 4-core host
PQ_M, PQ_CODES, PQ_DSUB = 4, 16, 4
VOCAB = 4000
CAPTION_WORDS = (24, 40)
DUP_EVERY = 10  # every 10th caption is a planted near-duplicate


def rng_for(seed: int, table: str) -> np.random.Generator:
    """Independent stream per (seed, table): adding a table leaves the
    others' rows unchanged."""
    tag = int.from_bytes(table.encode(), "little") % (1 << 63)
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed, tag])))


def scaled(n: int, scale: float, floor: int = 1) -> int:
    return max(floor, int(round(n * scale)))


def write_table(table: pa.Table, path: str, n_files: int = N_FILES) -> int:
    """Write ``table`` as ``n_files`` parquet files under ``path``; return
    the bytes written."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = max(1, -(-n // n_files))
    total = 0
    for k, lo in enumerate(range(0, n, step)):
        f = os.path.join(path, f"part-{k:03d}.parquet")
        pq.write_table(table.slice(lo, step), f)
        total += os.path.getsize(f)
    return total


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def exact_share(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """A mask with exactly round(n * share) seeded rows set, so the amount
    of work does not vary with the seed."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.permutation(n)[:int(round(n * share))]] = True
    return mask


def _points(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    hot = exact_share(rng, n, HOT_SHARE)
    box = np.where(hot[:, None], np.array(HOT), np.array(AOI))
    u = rng.random((n, 2))
    return box[:, 0] + u[:, 0] * box[:, 2], box[:, 1] + u[:, 1] * box[:, 3]


def evenly(rng: np.random.Generator, k: int, lo: float, hi: float) -> np.ndarray:
    """``k`` values spread evenly over [lo, hi], in seeded order: the seed
    moves which polygon gets which size, not the total size."""
    return lo + (hi - lo) * (rng.permutation(k) + 0.5) / k


def jittered_polygons(rng: np.random.Generator, p: int) -> list[tuple[np.ndarray, np.ndarray]]:
    """Star-shaped simple polygons with 32-64 vertices: sorted jittered
    angles around a centre and jittered radii.  A twentieth sit in the hot
    cluster, so the hot points meet several many-vertex refines each.
    Radii and vertex counts are spread evenly within the hot and the other
    polygons, so the refine work does not vary with the seed."""
    hot = exact_share(rng, p, 0.05)
    box = np.where(hot[:, None], np.array(HOT), np.array(AOI))
    u = rng.random((p, 2))
    # keep every polygon inside the AOI so the covered-raster lattice and
    # the soil raster span it
    cx = np.clip(box[:, 0] + u[:, 0] * box[:, 2], AOI[0] + 0.05, AOI[0] + AOI[2] - 0.05)
    cy = np.clip(box[:, 1] + u[:, 1] * box[:, 3], AOI[1] + 0.05, AOI[1] + AOI[3] - 0.05)
    size = np.empty(p)
    verts = np.empty(p, dtype=np.int64)
    for group in (hot, ~hot):
        k = int(group.sum())
        size[group] = evenly(rng, k, 0.008, 0.038)
        verts[group] = np.floor(evenly(rng, k, 32, 65)).astype(np.int64)
    out = []
    for j in range(p):
        nv, base = int(verts[j]), size[j]
        ang = np.sort((np.arange(nv) + rng.uniform(-0.35, 0.35, nv)) * (2 * np.pi / nv))
        rad = base * rng.uniform(0.55, 1.0, nv)
        out.append((cx[j] + rad * np.cos(ang), cy[j] + 0.8 * rad * np.sin(ang)))
    return out


@dataclass
class Inputs:
    """Paths of the written tables plus what the checks need to know."""

    paths: dict[str, str] = field(default_factory=dict)
    rows: int = 0  # the workload's stated input rows (rows_per_s numerator)
    bytes: int = 0
    meta: dict = field(default_factory=dict)


def polygons_table(polys) -> pa.Table:
    xs = [x.tolist() for x, _ in polys]
    ys = [y.tolist() for _, y in polys]
    return pa.table({
        "poly_id": pa.array(np.arange(len(polys), dtype=np.int64)),
        "xs": pa.array(xs, type=pa.list_(pa.float64())),
        "ys": pa.array(ys, type=pa.list_(pa.float64())),
        "x0": pa.array([float(np.min(x)) for x, _ in polys]),
        "y0": pa.array([float(np.min(y)) for _, y in polys]),
        "x1": pa.array([float(np.max(x)) for x, _ in polys]),
        "y1": pa.array([float(np.max(y)) for _, y in polys]),
    })


def lattice(nr: int, nc: int, spacing: float) -> tuple[np.ndarray, np.ndarray]:
    g = np.arange(nr * nc, dtype=np.int64)
    lon = AOI[0] + ((g % nc) + 0.5) * spacing
    lat = AOI[1] + ((g // nc) + 0.5) * spacing
    return lon, lat


def weather_grid_table() -> pa.Table:
    nr = int(round(AOI[3] / GRID_SPACING))
    nc = int(round(AOI[2] / GRID_SPACING))
    lon, lat = lattice(nr, nc, GRID_SPACING)
    return pa.table({"grid_id": np.arange(nr * nc, dtype=np.int64), "lon": lon, "lat": lat})


def soil_table(rng: np.random.Generator, nr: int, nc: int) -> pa.Table:
    """Soil raster as a table: 8x8 blocks of one seeded map-unit key,
    about 2% nodata cells dropped."""
    g = np.arange(nr * nc, dtype=np.int64)
    lon = AOI[0] + (g % nc + 0.5) * (AOI[2] / nc)
    lat = AOI[1] + (g // nc + 0.5) * (AOI[3] / nr)
    blocks = rng.integers(100000, 100050, size=(-(-nr // 8), -(-nc // 8)))
    mukey = blocks[(g // nc) // 8, (g % nc) // 8].astype(np.int64)
    keep = rng.random(nr * nc) >= 0.02
    return pa.table({"grid_id": g[keep], "lon": lon[keep],
                     "lat": lat[keep], "mukey": mukey[keep]})


def site_assign(seed: int, scale: float, root: str) -> Inputs:
    s = SIZES["site_assign"]
    n = scaled(s["points"], scale, 200)
    p = scaled(s["polys"], scale, 8)
    nr, nc = scaled(s["soil_nr"], scale ** 0.5, 16), scaled(s["soil_nc"], scale ** 0.5, 16)
    rng = rng_for(seed, "site_assign.points")
    cx, cy = _points(rng, n)
    pts = pa.table({"i": np.arange(n, dtype=np.int64), "cx": cx, "cy": cy})
    polys = jittered_polygons(rng_for(seed, "site_assign.polys"), p)
    out = Inputs(rows=n, meta=dict(polys=p,
                                   windows=query_windows(rng_for(seed, "site_assign.windows"),
                                                         s["windows"]),
                                   invalidate_seed=int(rng.integers(0, 1 << 31))))
    soil = soil_table(rng_for(seed, "site_assign.soil"), nr, nc)
    for name, tab, files in (("points", pts, N_FILES), ("polys", polygons_table(polys), 1),
                             ("grid", weather_grid_table(), 1), ("soil", soil, N_FILES)):
        out.paths[name] = os.path.join(root, name)
        out.bytes += write_table(tab, out.paths[name], files)
    return out


def query_windows(rng: np.random.Generator, k: int) -> list[tuple[float, float, float, float]]:
    """``k`` bbox windows 0.05-0.4 degrees wide, every other one inside the
    hot cluster."""
    hot = np.arange(k) % 2 == 0
    size = rng.uniform(0.05, 0.4, (k, 2))
    span_x = np.where(hot, HOT[2], AOI[2] - size[:, 0])
    span_y = np.where(hot, HOT[3], AOI[3] - size[:, 1])
    lo_x = np.where(hot, HOT[0], AOI[0]) + rng.random(k) * span_x
    lo_y = np.where(hot, HOT[1], AOI[1]) + rng.random(k) * span_y
    return [(float(a), float(b), float(a + c), float(b + d))
            for a, b, c, d in zip(lo_x, lo_y, size[:, 0], size[:, 1])]


def pq_codebooks(seed: int) -> list[list[list[float]]]:
    cb = rng_for(seed, "curate.codebooks").uniform(-1.0, 1.0, (PQ_M, PQ_CODES, PQ_DSUB))
    return cb.tolist()


def captions(rng: np.random.Generator, n: int) -> tuple[list[str], list[tuple[int, int]]]:
    """Zipf-ish captions; every DUP_EVERY-th one copies an earlier caption
    with one word replaced (a planted near-duplicate, word-3-gram Jaccard
    >= 0.7).  Returns the captions and the planted (earlier, copy) pairs."""
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    prob = (1.0 / ranks) / (1.0 / ranks).sum()
    lens = rng.integers(CAPTION_WORDS[0], CAPTION_WORDS[1] + 1, n)
    words = rng.choice(VOCAB, size=int(lens.sum()), p=prob)
    offs = np.concatenate([[0], np.cumsum(lens)])
    docs = [[f"w{w}" for w in words[offs[d]:offs[d + 1]]] for d in range(n)]
    planted = []
    for d in range(DUP_EVERY, n, DUP_EVERY):
        src = int(rng.integers(0, d))
        copy = list(docs[src])
        copy[int(rng.integers(0, len(copy)))] = f"x{d}"
        docs[d] = copy
        planted.append((src, d))
    return [" ".join(d) for d in docs], planted


def image_pool(rng: np.random.Generator, k: int) -> list[dict]:
    """``k`` distinct seeded images, each encoded once; rows of the image
    table reuse them, so set-up encodes ``k`` images, not one per row."""
    pool = []
    for j in range(k):
        w, h = (int(v) for v in rng.choice([32, 48, 64], 2))
        fmt = "png" if rng.random() < 0.7 else "fjpg"
        arr = codec.synth_pixels(int(rng.integers(0, 1 << 40)), w, h)
        pool.append(dict(w=w, h=h, fmt=fmt, bytes=codec.encode_image(arr, fmt),
                         src_mean=float(arr.astype(np.float64).mean())))
    return pool


def curate(seed: int, scale: float, root: str) -> Inputs:
    s = SIZES["curate"]
    nv = scaled(s["vectors"], scale, 200)
    nq = s["queries"]
    nd = scaled(s["captions"], scale, 200)
    ni = scaled(s["images"], scale, 100)
    dim = PQ_M * PQ_DSUB
    rng = rng_for(seed, "curate.vectors")
    # clustered embeddings: 64 seeded centres plus noise, so top-k has
    # structure rather than uniform-noise ties
    centres = rng.normal(0.0, 1.0, (64, dim))
    emb = centres[rng.integers(0, 64, nv)] + rng.normal(0.0, 0.35, (nv, dim))
    vec_ids = np.arange(nv, dtype=np.int64)
    q_rows = np.sort(rng.choice(nv, nq, replace=False))
    vec_tab = pa.table({
        "vec_id": vec_ids,
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), dim)
        .cast(pa.list_(pa.float64())),
    })
    q_tab = pa.table({
        "q_id": pa.array(q_rows.astype(np.int64)),
        "q_vec": pa.array([emb[r].tolist() for r in q_rows], type=pa.list_(pa.float64())),
    })
    caps, planted = captions(rng_for(seed, "curate.captions"), nd)
    cap_tab = pa.table({"doc_id": np.arange(nd, dtype=np.int64), "caption": caps})
    pool = image_pool(rng_for(seed, "curate.image_pool"), min(s["image_pool"], ni))
    pick = rng_for(seed, "curate.images").integers(0, len(pool), ni)
    img_tab = pa.table({
        "image_id": np.arange(ni, dtype=np.int64),
        "bytes": pa.array([pool[j]["bytes"] for j in pick], type=pa.binary()),
        "fmt": [pool[j]["fmt"] for j in pick],
        "w": pa.array([pool[j]["w"] for j in pick], type=pa.int32()),
        "h": pa.array([pool[j]["h"] for j in pick], type=pa.int32()),
    })
    out = Inputs(rows=nv + nd + ni, meta=dict(
        vectors=nv, queries=nq, captions=nd, images=ni, planted=planted,
        codebooks=pq_codebooks(seed), pool=pool, pick=pick))
    for name, tab in (("vectors", vec_tab), ("queries", q_tab),
                      ("captions", cap_tab), ("images", img_tab)):
        out.paths[name] = os.path.join(root, name)
        out.bytes += write_table(tab, out.paths[name], 1 if name == "queries" else N_FILES)
    return out


MAKERS = {"site_assign": site_assign, "curate": curate}
