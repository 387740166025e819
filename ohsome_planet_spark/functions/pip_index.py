"""Broadcast polygon index for point-in-polygon country joins.

Pure-NumPy re-expression of the reference's two spatial-join strategies:

- `SpatialIndexJoiner` (`/root/reference/ohsome-contributions/src/main/java/
  org/heigit/ohsome/contributions/spatialjoin/SpatialIndexJoiner.java:17-43`):
  bbox-prefilter on a packed tree, then exact prepared-geometry intersects.
  Here: vectorized bbox test over packed (F,4) arrays + ray-casting PIP with
  boundary inclusion.
- `SpatialGridJoiner` (`SpatialGridJoiner.java:26-96`, grid build
  `BuildGridAction.java:43-93`): a precomputed grid where cells fully covered
  by features skip the exact test, and only boundary cells fall back to exact
  PIP ("ray-casting tie-break on boundaries"). Here: a zxy-cell dictionary
  cell → (covered ids, boundary candidate parts).

The index is built once on the driver from the exploded country parts and
broadcast; executors probe Arrow batches against it with zero per-row Python
(all candidate tests are vectorized per part, not per point).

Output contract matches the reference joiner: a **sorted set** of feature ids
per geometry (`SpatialGridJoiner.join:49-62` returns a Set; we sort for
determinism).
"""

from __future__ import annotations

import numpy as np

from . import geometry_np as gnp
from .cells import zxy_cell


class PolygonIndex:
    """Packed polygon-part index: ids, bboxes, rings; optional covered grid."""

    def __init__(self, features: list[tuple[str, list[np.ndarray]]], grid_zoom: int | None = 8):
        """features: [(id, [ring (N,2) arrays; ring0 = shell]), ...] —
        already exploded into single-polygon parts (one entry per part, ids
        may repeat, mirroring SpatialJoiner.readCSV's per-part explode)."""
        self.ids: list[str] = []
        self.rings: list[list[tuple[np.ndarray, np.ndarray]]] = []
        boxes = []
        for fid, rings in features:
            shell = np.asarray(rings[0], np.float64)
            rs = [(np.asarray(r, np.float64)[:, 0], np.asarray(r, np.float64)[:, 1]) for r in rings]
            self.ids.append(str(fid))
            self.rings.append(rs)
            boxes.append(
                (shell[:, 0].min(), shell[:, 1].min(), shell[:, 0].max(), shell[:, 1].max())
            )
        self.boxes = np.asarray(boxes, np.float64).reshape(len(boxes), 4)
        # sorted distinct ids; a code is an index into it, so ascending
        # codes are ascending ids
        self.id_vocab: list[str] = sorted(set(self.ids))
        code_of = {fid: i for i, fid in enumerate(self.id_vocab)}
        self.part_codes = np.asarray([code_of[f] for f in self.ids], np.int64)
        self.grid_zoom = grid_zoom
        # cell → (tuple of fully-covering ids, tuple of candidate part indexes)
        self.grid: dict[int, tuple[tuple[str, ...], tuple[int, ...]]] = {}
        self._nongrid_parts: list[int] = []
        if grid_zoom is not None and len(self.ids) > 0:
            self._build_grid(grid_zoom)
        # the grid as sorted cell keys + CSR rows (covered id codes,
        # candidate parts), so a probe looks cells up with searchsorted
        self.grid_cells = np.asarray(sorted(self.grid), np.int64)
        entries = [self.grid[c] for c in self.grid_cells.tolist()]
        self._covered = _csr([[code_of[f] for f in cov] for cov, _ in entries])
        self._candidates = _csr([cand for _, cand in entries])

    # -- grid build (BuildGridAction analog) --------------------------------
    def _build_grid(self, zoom: int) -> None:
        n = 1 << zoom
        cell_w = 360.0 / n
        cell_h = 180.0 / n
        per_cell: dict[int, tuple[list[str], list[int]]] = {}
        for pi, (fid, rings) in enumerate(zip(self.ids, self.rings)):
            xmin, ymin, xmax, ymax = self.boxes[pi]
            ix0 = max(0, int((xmin + 180.0) // cell_w))
            ix1 = min(n - 1, int((xmax + 180.0) // cell_w))
            iy0 = max(0, int((90.0 - ymax) // cell_h))
            iy1 = min(n - 1, int((90.0 - ymin) // cell_h))
            if (ix1 - ix0 + 1) * (iy1 - iy0 + 1) > 250_000:
                # degenerate: part spans too many cells at this zoom —
                # exclude it from the grid and probe it exactly every time
                self._nongrid_parts.append(pi)
                continue
            shell_x, shell_y = rings[0]
            seg_x1 = np.concatenate([r[0][:-1] for r in rings])
            seg_y1 = np.concatenate([r[1][:-1] for r in rings])
            seg_x2 = np.concatenate([r[0][1:] for r in rings])
            seg_y2 = np.concatenate([r[1][1:] for r in rings])
            for ix in range(ix0, ix1 + 1):
                for iy in range(iy0, iy1 + 1):
                    cell = (zoom << 58) | (ix << 29) | iy
                    bxmin = ix * cell_w - 180.0
                    bxmax = bxmin + cell_w
                    bymax = 90.0 - iy * cell_h
                    bymin = bymax - cell_h
                    touches_boundary = gnp.segments_intersect_bbox(
                        seg_x1, seg_y1, seg_x2, seg_y2, bxmin, bymin, bxmax, bymax
                    )
                    if touches_boundary:
                        per_cell.setdefault(cell, ([], []))[1].append(pi)
                        continue
                    # no boundary inside the cell ⇒ cell is fully inside or
                    # fully outside: test the center
                    cx = np.asarray([(bxmin + bxmax) / 2.0])
                    cy = np.asarray([(bymin + bymax) / 2.0])
                    if gnp.points_in_polygon(cx, cy, rings)[0]:
                        per_cell.setdefault(cell, ([], []))[0].append(fid)
        self.grid = {
            c: (tuple(sorted(set(cov))), tuple(cand)) for c, (cov, cand) in per_cell.items()
        }

    # -- probes (SpatialIndexJoiner / SpatialGridJoiner analogs) ------------
    def _bbox_candidates(self, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """(P, F) bool: point within part bbox."""
        b = self.boxes
        return (
            (px[:, None] >= b[None, :, 0])
            & (px[:, None] <= b[None, :, 2])
            & (py[:, None] >= b[None, :, 1])
            & (py[:, None] <= b[None, :, 3])
        )

    def join_points(self, px: np.ndarray, py: np.ndarray) -> list[list[str]]:
        """Sorted id set per point — exact-index path (J4 semantics)."""
        px = np.asarray(px, np.float64)
        py = np.asarray(py, np.float64)
        out_sets: list[set] = [set() for _ in range(px.size)]
        if len(self.ids) == 0:
            return [sorted(s) for s in out_sets]
        cand = self._bbox_candidates(px, py)
        for pi in range(len(self.ids)):
            sel = np.nonzero(cand[:, pi])[0]
            if sel.size == 0:
                continue
            hit = gnp.points_in_polygon(px[sel], py[sel], self.rings[pi])
            for idx in sel[hit]:
                out_sets[idx].add(self.ids[pi])
        return [sorted(s) for s in out_sets]

    def join_points_grid(self, px: np.ndarray, py: np.ndarray) -> list[list[str]]:
        """Sorted id set per point using the covered-cell shortcut (J5);
        the list form of join_points_codes."""
        offsets, codes, ids = self.join_points_codes(px, py)
        names = [ids[c] for c in codes.tolist()]
        o = offsets.tolist()
        return [names[o[i]:o[i + 1]] for i in range(len(o) - 1)]

    def join_points_codes(
        self, px: np.ndarray, py: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, list[str]]:
        """Sorted id set per point as CSR arrays: point i's ids are
        `ids[c] for c in codes[offsets[i]:offsets[i + 1]]`, ascending.

        Fully-covered grid cells contribute their ids without any exact
        test; boundary cells ray-cast only against the cell's candidate
        parts; parts too large for the grid (or every part, without a grid)
        are bbox-filtered and probed exactly. Hits are collected as
        (point, id code) pairs and deduplicated and sorted by one
        `np.unique`, so no per-point Python runs. Produces identical
        results to join_points (grid is an optimization, exactly as
        SpatialGridJoiner vs SpatialIndexJoiner)."""
        px = np.asarray(px, np.float64)
        py = np.asarray(py, np.float64)
        n = px.size
        pts: list[np.ndarray] = []
        cds: list[np.ndarray] = []

        def hits(sel: np.ndarray, pi: int) -> None:
            hit = sel[gnp.points_in_polygon(px[sel], py[sel], self.rings[pi])]
            pts.append(hit)
            cds.append(np.full(hit.size, self.part_codes[pi], np.int64))

        exact_parts = range(len(self.ids))
        if self.grid_zoom is not None and self.grid:
            exact_parts = self._nongrid_parts
            cells = zxy_cell(px, py, self.grid_zoom)
            pos = np.searchsorted(self.grid_cells, cells)
            pos[pos == self.grid_cells.size] = 0
            sel = np.flatnonzero(self.grid_cells[pos] == cells)
            entry = pos[sel]
            p, c = _expand(sel, entry, *self._covered)
            pts.append(p)
            cds.append(c)
            p, parts = _expand(sel, entry, *self._candidates)
            order = np.argsort(parts, kind="stable")
            p, parts = p[order], parts[order]
            bounds = np.flatnonzero(np.diff(parts)) + 1
            for s, e in zip(np.r_[0, bounds], np.r_[bounds, parts.size]):
                if e > s:
                    hits(p[s:e], int(parts[s]))
        for pi in exact_parts:
            b = self.boxes[pi]
            sel = np.nonzero(
                (px >= b[0]) & (px <= b[2]) & (py >= b[1]) & (py <= b[3])
            )[0]
            if sel.size:
                hits(sel, pi)
        nv = max(len(self.id_vocab), 1)
        key = np.concatenate(pts) * nv + np.concatenate(cds) if pts else np.zeros(0, np.int64)
        return _csr_of_keys(np.unique(key), n, nv) + (self.id_vocab,)

    def join_geoms_codes(
        self, kinds: np.ndarray, voff: np.ndarray, xs: np.ndarray, ys: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, list[str]]:
        """`join_geom` over a whole batch of geometries, as CSR arrays in
        the form of join_points_codes (geometry g's ids are
        `ids[c] for c in codes[offsets[g]:offsets[g + 1]]`, ascending).

        Geometry g has kind kinds[g] (1 Point, 2 LineString, 3 Polygon —
        the codes of `operators.history.batch_geometries`) and vertices
        xs/ys[voff[g]:voff[g + 1]]; a Polygon is one closed shell ring,
        no vertices is the empty geometry (no ids), and a Point with
        several vertices gets the union of its vertices' ids (a
        MultiPoint).

        The three tests of join_geom, batched: every vertex is probed once
        through join_points_codes; then, part by part, the edge-crossing
        test and (Polygons only) the part-shell-vertex-inside test run as
        one vectorized pass over the geometries whose bbox overlaps the
        part and whose id no earlier test has found."""
        kinds = np.asarray(kinds, np.int64)
        voff = np.asarray(voff, np.int64)
        xs = np.asarray(xs, np.float64)
        ys = np.asarray(ys, np.float64)
        g = kinds.size
        nv = max(len(self.id_vocab), 1)
        vc = np.diff(voff)
        offsets, codes, _ = self.join_points_codes(xs, ys)
        vertex = np.repeat(np.arange(xs.size), np.diff(offsets))
        found = np.unique(np.repeat(np.arange(g), vc)[vertex] * nv + codes)
        ext = np.flatnonzero((kinds != 1) & (vc > 0))
        if ext.size and self.ids:
            nz = np.flatnonzero(vc > 0)
            at = np.searchsorted(nz, ext)
            gx0 = np.minimum.reduceat(xs[:voff[-1]], voff[nz])[at]
            gy0 = np.minimum.reduceat(ys[:voff[-1]], voff[nz])[at]
            gx1 = np.maximum.reduceat(xs[:voff[-1]], voff[nz])[at]
            gy1 = np.maximum.reduceat(ys[:voff[-1]], voff[nz])[at]
            for pi, b in enumerate(self.boxes):
                code = self.part_codes[pi]
                cand = ext[(gx1 >= b[0]) & (gx0 <= b[2]) & (gy1 >= b[1]) & (gy0 <= b[3])]
                cand = cand[~np.isin(cand * nv + code, found)]
                if not cand.size:
                    continue
                hit = self._edges_cross_many(cand, voff, xs, ys, self.rings[pi])
                poly = np.flatnonzero(~hit & (kinds[cand] == 3))
                if poly.size:
                    sx, sy = self.rings[pi][0]
                    hit[poly] = _shell_inside_many(cand[poly], voff, xs, ys, sx, sy)
                found = np.union1d(found, cand[hit] * nv + code)
        return _csr_of_keys(found, g, nv) + (self.id_vocab,)

    @staticmethod
    def _edges_cross_many(geoms, voff, xs, ys, part_rings) -> np.ndarray:
        """Per geometry of `geoms`: any of its edges crosses or touches an
        edge of `part_rings` (_edges_cross, one pass over all of them)."""
        bx1 = np.concatenate([rx[:-1] for rx, _ in part_rings])
        by1 = np.concatenate([ry[:-1] for _, ry in part_rings])
        bx2 = np.concatenate([rx[1:] for rx, _ in part_rings])
        by2 = np.concatenate([ry[1:] for _, ry in part_rings])
        hit = np.zeros(geoms.size, bool)
        for sub, e, owner in _edge_chunks(geoms, voff, max(bx1.size, 1)):
            ehit = _edges_hit(xs[e], ys[e], xs[e + 1], ys[e + 1], bx1, by1, bx2, by2)
            hit[sub[owner[ehit]]] = True
        return hit

    def join_geom(self, kind: str, data) -> list[str]:
        """Sorted id set for one geometry (JTS `intersects` analog, J4).

        Point → PIP; LineString/Polygon → intersects = any geometry vertex in
        the part, OR any part-shell vertex in the geometry (polygon only), OR
        any edge crossing. Mirrors the exact-test fallback of
        `SpatialIndexJoiner.join:32-43`.
        """
        from .geometry_np import points_in_polygon

        if data is None:
            return []
        if kind == "Point":
            return self.join_points(np.asarray([data[0]]), np.asarray([data[1]]))[0]
        if kind == "LineString":
            coords = np.asarray(data, np.float64)
            rings = [coords]
            closed = False
        elif kind == "Polygon":
            rings = [np.asarray(r, np.float64) for r in data]
            coords = rings[0]
            closed = True
        else:
            raise ValueError(kind)
        gx0, gy0 = coords[:, 0].min(), coords[:, 1].min()
        gx1, gy1 = coords[:, 0].max(), coords[:, 1].max()
        hits: set[str] = set()
        for pi in range(len(self.ids)):
            b = self.boxes[pi]
            if gx1 < b[0] or gx0 > b[2] or gy1 < b[1] or gy0 > b[3]:
                continue
            part = self.rings[pi]
            # any geometry vertex inside the part
            allv = np.vstack(rings)
            if points_in_polygon(allv[:, 0], allv[:, 1], part).any():
                hits.add(self.ids[pi])
                continue
            # part shell vertex inside the (closed) geometry
            if closed:
                sx, sy = part[0]
                inside = points_in_polygon(
                    np.asarray(sx), np.asarray(sy),
                    [(r[:, 0], r[:, 1]) for r in rings],
                )
                if inside.any():
                    hits.add(self.ids[pi])
                    continue
            # edge crossings
            if self._edges_cross(rings, part):
                hits.add(self.ids[pi])
        return sorted(hits)

    @staticmethod
    def _edges_cross(rings: list[np.ndarray], part_rings) -> bool:
        for arr in rings:
            for rx, ry in part_rings:
                hit = _edges_hit(
                    arr[:-1, 0], arr[:-1, 1], arr[1:, 0], arr[1:, 1],
                    rx[:-1], ry[:-1], rx[1:], ry[1:],
                )
                if hit.any():
                    return True
        return False


def _edges_hit(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2) -> np.ndarray:
    """Per A edge: it properly crosses, or exactly touches, any B edge."""
    # vectorized proper-crossing test over the (A,B) edge grid
    d1 = (ax2[:, None] - ax1[:, None]) * (by1[None, :] - ay1[:, None]) - (
        ay2[:, None] - ay1[:, None]
    ) * (bx1[None, :] - ax1[:, None])
    d2 = (ax2[:, None] - ax1[:, None]) * (by2[None, :] - ay1[:, None]) - (
        ay2[:, None] - ay1[:, None]
    ) * (bx2[None, :] - ax1[:, None])
    d3 = (bx2[None, :] - bx1[None, :]) * (ay1[:, None] - by1[None, :]) - (
        by2[None, :] - by1[None, :]
    ) * (ax1[:, None] - bx1[None, :])
    d4 = (bx2[None, :] - bx1[None, :]) * (ay2[:, None] - by1[None, :]) - (
        by2[None, :] - by1[None, :]
    ) * (ax2[:, None] - bx1[None, :])
    hit = (((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))).any(axis=1)
    touch = (d1 == 0) | (d2 == 0) | (d3 == 0) | (d4 == 0)
    # exact-touch check over ALL flagged pairs, vectorized elementwise (no
    # truncation — a touch past any cap would silently drop a country hit)
    ii, jj = np.nonzero(touch & ~hit[:, None])
    if ii.size:
        a1x, a1y, a2x, a2y = ax1[ii], ay1[ii], ax2[ii], ay2[ii]
        b1x, b1y, b2x, b2y = bx1[jj], by1[jj], bx2[jj], by2[jj]
        on = (
            _on_segment(b1x, b1y, a1x, a1y, a2x, a2y)
            | _on_segment(b2x, b2y, a1x, a1y, a2x, a2y)
            | _on_segment(a1x, a1y, b1x, b1y, b2x, b2y)
        )
        hit[ii[on]] = True
    return hit


def _shell_inside_many(geoms, voff, xs, ys, sx, sy) -> np.ndarray:
    """Per closed-ring geometry of `geoms`: any of the points (sx, sy) is
    inside or on it (gnp.points_in_polygon with one ring, the same float
    expressions, one pass over all of them)."""
    hit = np.zeros(geoms.size, bool)
    px = sx[None, :]
    py = sy[None, :]
    for sub, e, owner in _edge_chunks(geoms, voff, max(sx.size, 1)):
        x1 = xs[e][:, None]
        y1 = ys[e][:, None]
        x2 = xs[e + 1][:, None]
        y2 = ys[e + 1][:, None]
        cond = (y1 <= py) != (y2 <= py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        crossings = (cond & (px < xint)).astype(np.int64)
        on = ((x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) == 0.0) & (
            (px >= np.minimum(x1, x2))
            & (px <= np.maximum(x1, x2))
            & (py >= np.minimum(y1, y2))
            & (py <= np.maximum(y1, y2))
        )
        first = np.flatnonzero(np.r_[True, owner[1:] != owner[:-1]])
        inside = (np.add.reduceat(crossings, first) % 2).astype(bool)
        inside |= np.logical_or.reduceat(on, first)
        hit[sub[owner[first]]] = inside.any(axis=1)
    return hit


def _edge_chunks(geoms, voff, width: int, cells: int = 1 << 20):
    """(geoms, edge start vertexes, owning position) in chunks of whole
    geometries with about `cells` (edge × width) grid cells each; geometries
    with no edge are left out."""
    cnt = np.maximum(voff[geoms + 1] - voff[geoms] - 1, 0)
    keep = np.flatnonzero(cnt)
    cend = np.cumsum(cnt[keep])
    rows = max(cells // width, 1)
    lo = 0
    while lo < keep.size:
        done = cend[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(cend, done + rows, "right")), lo + 1)
        sel = keep[lo:hi]
        c = cnt[sel]
        e = np.repeat(voff[geoms[sel]], c) + gnp.segment_ranges(c)
        yield sel, e, np.repeat(np.arange(sel.size), c)
        lo = hi


def _on_segment(px, py, x1, y1, x2, y2) -> np.ndarray:
    """Elementwise: point i exactly on segment i (collinear + within bbox)."""
    cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    return (
        (cross == 0.0)
        & (px >= np.minimum(x1, x2))
        & (px <= np.maximum(x1, x2))
        & (py >= np.minimum(y1, y2))
        & (py <= np.maximum(y1, y2))
    )


def _csr_of_keys(key: np.ndarray, n: int, nv: int) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, codes) of sorted unique `row * nv + code` keys over n rows."""
    row = key // nv
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(np.bincount(row, minlength=n), out=offsets[1:])
    return offsets, key - row * nv


def _csr(rows: list) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, values) of a list of int lists."""
    offsets = np.zeros(len(rows) + 1, np.int64)
    np.cumsum([len(r) for r in rows], out=offsets[1:])
    values = np.asarray([v for r in rows for v in r], np.int64)
    return offsets, values


def _expand(
    pts: np.ndarray, rows: np.ndarray, offsets: np.ndarray, values: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(point, value) pairs: pts[i] paired with every value of CSR row
    rows[i]."""
    lens = offsets[rows + 1] - offsets[rows]
    total = int(lens.sum())
    first = np.repeat(offsets[rows] - (np.cumsum(lens) - lens), lens)
    return np.repeat(pts, lens), values[first + np.arange(total)]
