"""Pure-numpy computational geometry used inside Arrow-batched pandas UDFs.

Replaces the reference's shapely/geopandas/rasterio geometry calls
(`geoEpic/core/workspace.py:318-326`, `geoEpic/utils/raster_utils.py:53-108`)
— those native libs are not in this container, and at 100 TB scale the
geometry test runs vectorized per Arrow batch anyway, so a numpy ray-cast is
both the portable and the fast choice.

Conventions: polygons are vertex arrays (xs, ys) in order, NOT closed
(first vertex not repeated). Containment is ray-casting with half-open edge
semantics; fixture points never fall exactly on edges, so results match the
closed-containment DuckDB oracles bit-for-bit.
"""

from __future__ import annotations

import numpy as np


def points_in_polygon(px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Vectorized ray-cast: bool mask of which (px, py) fall inside polygon.

    Loop over the (few) polygon edges, vectorized over the (many) points —
    the same shape as the reference's per-polygon rasterio mask
    (`utils/raster_utils.py:75-80`) but batch-oriented.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = len(xs)
    inside = np.zeros(px.shape, dtype=bool)
    j = n - 1
    for i in range(n):
        yi, yj = ys[i], ys[j]
        xi, xj = xs[i], xs[j]
        crosses = (yi > py) != (yj > py)
        if np.any(crosses):
            x_at = (xj - xi) * (py - yi) / (yj - yi) + xi
            inside ^= crosses & (px < x_at)
        j = i
    return inside


def polygon_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Shoelace area (positive regardless of winding)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    return float(abs(np.dot(xs, np.roll(ys, -1)) - np.dot(ys, np.roll(xs, -1))) / 2.0)


def polygon_centroid(xs: np.ndarray, ys: np.ndarray) -> tuple[float, float]:
    """Area-weighted centroid (matches shapely `.centroid` used at
    `core/workspace.py:321-322` for lat/lon extraction)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    x1, y1 = np.roll(xs, -1), np.roll(ys, -1)
    cross = xs * y1 - x1 * ys
    a = cross.sum() / 2.0
    if a == 0.0:
        return float(xs.mean()), float(ys.mean())
    cx = ((xs + x1) * cross).sum() / (6.0 * a)
    cy = ((ys + y1) * cross).sum() / (6.0 * a)
    return float(cx), float(cy)


def wkt_polygon(xs: np.ndarray, ys: np.ndarray) -> str:
    """WKT POLYGON text (ring closed), matching the reference's WKT usage
    for SDA point/polygon queries (`soil/fetch_usda.py:48`)."""
    # 17 significant digits: exact double round-trip (%.10g loses ~1e-9)
    pts = [f"{x:.17g} {y:.17g}" for x, y in zip(xs, ys)]
    pts.append(pts[0])
    return "POLYGON ((" + ", ".join(pts) + "))"


def parse_wkt_polygon(wkt: str) -> tuple[np.ndarray, np.ndarray]:
    """Parse a simple single-ring WKT POLYGON back to vertex arrays
    (closing vertex dropped)."""
    body = wkt.strip()
    assert body.upper().startswith("POLYGON"), wkt
    inner = body[body.index("((") + 2 : body.rindex("))")]
    coords = [tuple(map(float, p.strip().split())) for p in inner.split(",")]
    if coords[0] == coords[-1]:
        coords = coords[:-1]
    xs = np.array([c[0] for c in coords], dtype=np.float64)
    ys = np.array([c[1] for c in coords], dtype=np.float64)
    return xs, ys


def haversine_km(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in km (numpy mirror of the Column version
    ``operators.spatial._haversine_km``; reference haversine path
    `utils/raster_utils.py:196`)."""
    r = 6371.0088
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * r * np.arcsin(np.sqrt(h))


def convex_hull(xs: np.ndarray, ys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Andrew monotone-chain convex hull. Returns CCW hull vertices starting
    from the lexicographically smallest point; strictly convex (collinear
    boundary points dropped). O(n log n) in the sort."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    pts = np.unique(np.column_stack([xs, ys]), axis=0)  # lex-sorted unique
    if len(pts) <= 2:
        return pts[:, 0], pts[:, 1]

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2:
                ox, oy = out[-2]
                ax, ay = out[-1]
                if (ax - ox) * (p[1] - oy) - (ay - oy) * (p[0] - ox) <= 0.0:
                    out.pop()
                else:
                    break
            out.append((p[0], p[1]))
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = lower[:-1] + upper[:-1]
    h = np.asarray(hull)
    return h[:, 0], h[:, 1]


def simplify_dp(xs: np.ndarray, ys: np.ndarray, tol: float) -> tuple[np.ndarray, np.ndarray]:
    """Douglas-Peucker polyline simplification: keep endpoints, recursively
    keep the farthest-off-chord vertex while its perpendicular distance
    exceeds ``tol``. Iterative stack (no recursion-depth limit)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = len(xs)
    if n <= 2:
        return xs, ys
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        ax, ay, bx, by = xs[a], ys[a], xs[b], ys[b]
        dx, dy = bx - ax, by - ay
        seg2 = dx * dx + dy * dy
        i = np.arange(a + 1, b)
        if seg2 == 0.0:
            d = np.hypot(xs[i] - ax, ys[i] - ay)
        else:
            d = np.abs(dx * (ys[i] - ay) - dy * (xs[i] - ax)) / np.sqrt(seg2)
        j = int(i[np.argmax(d)])
        if d.max() > tol:
            keep[j] = True
            stack.append((a, j))
            stack.append((j, b))
    return xs[keep], ys[keep]
