"""Planar geometry primitives over NumPy coordinate arrays.

The engine's internal geometry representation is deliberately columnar:
a geometry is (kind, lons[], lats[], ring_offsets[]) rather than an object
graph, so kernels run vectorized over Arrow batches. Polygons are lists of
rings; ring 0 is the shell, the rest are holes. This replaces the
reference's JTS object model (`org.locationtech.jts.geom.*`).

Boundary semantics: `points_in_ring` implements even-odd ray casting with an
explicit on-edge test — a point on the boundary counts as inside, matching
JTS `Geometry.intersects` used by the reference's spatial join
(`/root/reference/ohsome-contributions/src/main/java/org/heigit/ohsome/
contributions/spatialjoin/SpatialIndexJoiner.java:38-41`). This is the
"ray-casting tie-break on boundaries".
"""

from __future__ import annotations

import numpy as np

GEOM_EMPTY = 0
GEOM_POINT = 1
GEOM_LINESTRING = 2
GEOM_POLYGON = 3
GEOM_MULTIPOLYGON = 6
GEOM_GEOMETRYCOLLECTION = 7


def segment_ranges(counts: np.ndarray) -> np.ndarray:
    """Each element's position within its segment, for segments of the
    given lengths laid out back to back: [0..c0), [0..c1), ...
    concatenated (the gather index of the offset-array layout)."""
    counts = np.asarray(counts, np.int64)
    starts = np.cumsum(counts) - counts
    return np.arange(int(counts.sum())) - np.repeat(starts, counts)


def ring_signed_area(lons: np.ndarray, lats: np.ndarray) -> float:
    """Planar shoelace area; positive = counter-clockwise."""
    x = np.asarray(lons, np.float64)
    y = np.asarray(lats, np.float64)
    if x.size < 3:
        return 0.0
    return float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y) / 2.0)


def bbox(lons: np.ndarray, lats: np.ndarray) -> tuple[float, float, float, float]:
    lons = np.asarray(lons, np.float64)
    lats = np.asarray(lats, np.float64)
    if lons.size == 0:
        return (np.nan, np.nan, np.nan, np.nan)
    return (float(lons.min()), float(lats.min()), float(lons.max()), float(lats.max()))


def centroid_points(lons: np.ndarray, lats: np.ndarray) -> tuple[float, float]:
    return float(np.mean(lons)), float(np.mean(lats))


def centroid_linestring(lons: np.ndarray, lats: np.ndarray) -> tuple[float, float]:
    """Length-weighted centroid (JTS cartesian semantics)."""
    x = np.asarray(lons, np.float64)
    y = np.asarray(lats, np.float64)
    if x.size == 1:
        return float(x[0]), float(y[0])
    dx = np.diff(x)
    dy = np.diff(y)
    seg_len = np.sqrt(dx * dx + dy * dy)
    total = seg_len.sum()
    if total == 0.0:
        return float(x[0]), float(y[0])
    mx = (x[:-1] + x[1:]) / 2.0
    my = (y[:-1] + y[1:]) / 2.0
    return float(np.sum(mx * seg_len) / total), float(np.sum(my * seg_len) / total)


def centroid_polygon(rings: list[tuple[np.ndarray, np.ndarray]]) -> tuple[float, float]:
    """Area-weighted polygon centroid (shell minus holes), JTS cartesian."""
    a_total = 0.0
    cx = 0.0
    cy = 0.0
    for idx, (lons, lats) in enumerate(rings):
        x = np.asarray(lons, np.float64)
        y = np.asarray(lats, np.float64)
        cross = x * np.roll(y, -1) - np.roll(x, -1) * y
        a = np.sum(cross) / 2.0
        if idx > 0:
            # hole: subtract, whatever its winding
            a = -abs(a)
        else:
            a = abs(a)
        sx = np.sum((x + np.roll(x, -1)) * cross) / 6.0
        sy = np.sum((y + np.roll(y, -1)) * cross) / 6.0
        # normalize the moment sign to the ring's own winding, then apply ±a
        ring_a = np.sum(cross) / 2.0
        if ring_a != 0:
            sx *= a / ring_a
            sy *= a / ring_a
        a_total += a
        cx += sx
        cy += sy
    if a_total == 0.0:
        return centroid_points(rings[0][0], rings[0][1])
    return float(cx / a_total), float(cy / a_total)


def convex_hull(
    lons: np.ndarray, lats: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Convex hull via Andrew's monotone chain — counter-clockwise ring,
    starting at the lexicographically smallest vertex, WITHOUT repeating
    the start point. Collinear boundary points are dropped (strict
    turns), duplicates are deduplicated, so the result is the minimal
    vertex set and a pure deterministic function of the input point SET
    (input order never matters). Degenerate inputs: 1 point → itself;
    all-collinear → the two extreme points.

    Completes the shape-summary family next to `bbox` and the centroid
    kernels; exact float comparisons only (cross products), no libm."""
    pts = np.unique(np.column_stack([lons, lats]), axis=0)  # lex-sorted
    n = pts.shape[0]
    if n <= 2:
        return pts[:, 0].copy(), pts[:, 1].copy()

    def half(idx):
        out: list[int] = []
        for i in idx:
            while len(out) >= 2:
                ox, oy = pts[out[-2]]
                ax, ay = pts[out[-1]]
                bx, by = pts[i]
                if (ax - ox) * (by - oy) - (ay - oy) * (bx - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append(i)
        return out

    lower = half(range(n))
    upper = half(range(n - 1, -1, -1))
    ring = lower[:-1] + upper[:-1]
    if len(ring) < 2:  # all collinear: keep the two extremes
        ring = [0, n - 1]
    idx = np.array(ring, dtype=np.int64)
    return pts[idx, 0].copy(), pts[idx, 1].copy()


# ---------------------------------------------------------------------------
# Point-in-polygon: vectorized ray casting with boundary inclusion
# ---------------------------------------------------------------------------


def points_on_segments(
    px: np.ndarray, py: np.ndarray, x1, y1, x2, y2
) -> np.ndarray:
    """For each point, True if it lies exactly on any segment (x1,y1)-(x2,y2).

    px: (P,), segment arrays: (S,). Returns (P,) bool. O(P*S) vectorized.
    """
    px = px[:, None]
    py = py[:, None]
    cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    on_line = cross == 0.0
    within = (
        (px >= np.minimum(x1, x2))
        & (px <= np.maximum(x1, x2))
        & (py >= np.minimum(y1, y2))
        & (py <= np.maximum(y1, y2))
    )
    return np.any(on_line & within, axis=1)


def points_in_ring(
    px: np.ndarray, py: np.ndarray, ring_x: np.ndarray, ring_y: np.ndarray
) -> np.ndarray:
    """Even-odd crossing test of points against one closed ring.

    Half-open edge rule [y1 <= y < y2) avoids double counting at vertices;
    boundary points are handled by the caller via points_on_segments.
    """
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    x1 = np.asarray(ring_x, np.float64)
    y1 = np.asarray(ring_y, np.float64)
    # edges (closed ring: last == first, so pair i with i+1 up to n-1)
    x2 = np.roll(x1, -1)[:-1]
    y2 = np.roll(y1, -1)[:-1]
    x1 = x1[:-1]
    y1 = y1[:-1]
    pyc = py[:, None]
    pxc = px[:, None]
    cond = (y1 <= pyc) != (y2 <= pyc)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (pyc - y1) * (x2 - x1) / (y2 - y1)
    crossings = np.sum(cond & (pxc < xint), axis=1)
    return (crossings % 2).astype(bool)


def points_in_polygon(
    px: np.ndarray,
    py: np.ndarray,
    rings: list[tuple[np.ndarray, np.ndarray]],
    include_boundary: bool = True,
) -> np.ndarray:
    """Points inside a polygon with holes; boundary counts as inside."""
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    inside = points_in_ring(px, py, rings[0][0], rings[0][1])
    for hx, hy in rings[1:]:
        in_hole = points_in_ring(px, py, hx, hy)
        inside &= ~in_hole
    if include_boundary:
        for rx, ry in rings:
            rx = np.asarray(rx, np.float64)
            ry = np.asarray(ry, np.float64)
            on = points_on_segments(px, py, rx[:-1], ry[:-1], rx[1:], ry[1:])
            inside |= on
    return inside


def segments_intersect_bbox(
    x1: np.ndarray, y1: np.ndarray, x2: np.ndarray, y2: np.ndarray,
    bxmin: float, bymin: float, bxmax: float, bymax: float,
) -> bool:
    """True if any segment touches the bbox (cheap conservative test)."""
    # reject segments whose own bbox misses the box
    smin_x = np.minimum(x1, x2)
    smax_x = np.maximum(x1, x2)
    smin_y = np.minimum(y1, y2)
    smax_y = np.maximum(y1, y2)
    cand = ~((smax_x < bxmin) | (smin_x > bxmax) | (smax_y < bymin) | (smin_y > bymax))
    if not np.any(cand):
        return False
    # conservative: candidate overlap counts as intersecting (used only to
    # demote a cell from "fully covered" to "boundary" — safe direction)
    return True
