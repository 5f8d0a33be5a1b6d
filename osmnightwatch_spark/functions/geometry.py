"""Planar geometry kernels (numpy, vectorized) — no shapely/NTS.

Re-implements, from scratch, exactly the geometric predicates the
reference engine uses via NetTopologySuite:

* WKB encode/decode (the reference stores geometries as Gaia/WKB blobs,
  ``AdminCountPerCountryAnalyzer.cs:555-570``) — here plain
  little-endian WKB Polygon / MultiPolygon;
* point-in-polygon by ray casting with even-odd rule + boundary
  detection (the refine step of the reference's filter-and-refine
  containment join, ``AdminCountPerCountryAnalyzer.cs:664-674``);
* "prepared polygon" analog: classify the cells of a quadtree covering
  as FULL (entirely inside) vs BOUNDARY (edge passes through), so the
  join short-circuits containment for FULL cells
  (mirrors PreparedPolygon caching, ``AdminCountPerCountryAnalyzer.cs:486,637``);
* ring orientation (shoelace — ``BrokenCoastlineAnalyzer.cs:195-198``
  island-CCW check), segment crossing (DE-9IM "crosses" for curves,
  ``BrokenCoastlineAnalyzer.cs:93-94``) and simple self-intersection.

Coordinates are snapped to the reference's fixed 1e-7 precision model
(``BuildPolygonFromRelation.cs:12-13``) by callers that need exact
reproducibility; kernels themselves are pure float64.

All kernels take numpy arrays and are driven from pandas UDFs /
``applyInPandas`` — never row-at-a-time Python.
"""

from __future__ import annotations

import struct

import numpy as np

GRID = 1e7  # reference precision model: 1e-7 degrees


def snap(coords: np.ndarray) -> np.ndarray:
    """Snap coordinates to the 1e-7 grid (reference precision model)."""
    return np.round(np.asarray(coords, dtype=np.float64) * GRID) / GRID


# ---------------------------------------------------------------------------
# WKB (little-endian; Polygon=3, MultiPolygon=6)
# ---------------------------------------------------------------------------


def rings_to_wkb(rings: list[np.ndarray]) -> bytes:
    """Rings (first = exterior shell, rest = holes) → WKB Polygon."""
    out = [struct.pack("<BII", 1, 3, len(rings))]
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        out.append(struct.pack("<I", len(ring)))
        out.append(ring.astype("<f8").tobytes())
    return b"".join(out)


def polygons_to_wkb(polys: list[list[np.ndarray]]) -> bytes:
    """List of polygons (each a ring-list) → WKB MultiPolygon."""
    out = [struct.pack("<BII", 1, 6, len(polys))]
    for rings in polys:
        out.append(rings_to_wkb(rings))
    return b"".join(out)


def wkb_to_polygons(buf: bytes) -> list[list[np.ndarray]]:
    """WKB Polygon/MultiPolygon → list of polygons (ring-lists)."""

    def read_polygon(off: int) -> tuple[list[np.ndarray], int]:
        (nrings,) = struct.unpack_from("<I", buf, off)
        off += 4
        rings = []
        for _ in range(nrings):
            (npts,) = struct.unpack_from("<I", buf, off)
            off += 4
            ring = np.frombuffer(buf, dtype="<f8", count=npts * 2, offset=off)
            rings.append(ring.reshape(npts, 2).astype(np.float64))
            off += npts * 16
        return rings, off

    byte_order, geom_type = struct.unpack_from("<BI", buf, 0)
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    if geom_type == 3:
        rings, _ = read_polygon(5)
        return [rings]
    if geom_type == 6:
        (npolys,) = struct.unpack_from("<I", buf, 5)
        off, polys = 9, []
        for _ in range(npolys):
            bo, gt = struct.unpack_from("<BI", buf, off)
            if gt != 3:
                raise ValueError(f"MultiPolygon member type {gt}")
            rings, off = read_polygon(off + 5)
            polys.append(rings)
        return polys
    raise ValueError(f"unsupported WKB geometry type {geom_type}")


# ---------------------------------------------------------------------------
# Flat edge-soup representation (vectorization-friendly)
# ---------------------------------------------------------------------------


class EdgeSoup:
    """All edges of a (multi)polygon as flat arrays, for vectorized PIP.

    Even-odd ray casting is hole-correct over the full edge soup, so
    shells and holes need no separate handling.
    """

    __slots__ = ("x1", "y1", "x2", "y2", "bbox")

    def __init__(self, polys: list[list[np.ndarray]]):
        segs = []
        for rings in polys:
            for ring in rings:
                ring = np.asarray(ring, dtype=np.float64)
                if len(ring) < 2:
                    continue
                if not np.array_equal(ring[0], ring[-1]):
                    ring = np.vstack([ring, ring[:1]])  # force closure
                segs.append(np.column_stack([ring[:-1], ring[1:]]))
        if segs:
            e = np.vstack(segs)
        else:
            e = np.empty((0, 4))
        self.x1, self.y1, self.x2, self.y2 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
        if len(e):
            self.bbox = (
                min(self.x1.min(), self.x2.min()),
                min(self.y1.min(), self.y2.min()),
                max(self.x1.max(), self.x2.max()),
                max(self.y1.max(), self.y2.max()),
            )
        else:
            self.bbox = (np.inf, np.inf, -np.inf, -np.inf)

    @classmethod
    def from_wkb(cls, buf: bytes) -> "EdgeSoup":
        return cls(wkb_to_polygons(buf))


def points_in_edgesoup(px: np.ndarray, py: np.ndarray, soup: EdgeSoup,
                       boundary_is_inside: bool = True,
                       chunk: int = 8192) -> np.ndarray:
    """Vectorized even-odd ray cast: bool mask of containment.

    A horizontal ray to +x; crossing counted when the edge straddles
    ``py`` under the half-open rule (y1 <= py < y2 or y2 <= py < y1),
    which makes vertices count exactly once. Points lying on an edge
    are classified per ``boundary_is_inside`` (the reference treats
    Contains ∨ Overlaps as a hit, ``AdminCountPerCountryAnalyzer.cs:515-518``
    — boundary counts).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.zeros(len(px), dtype=bool)
    if len(soup.x1) == 0 or len(px) == 0:
        return out
    x1, y1, x2, y2 = soup.x1, soup.y1, soup.x2, soup.y2
    dy = y2 - y1
    with np.errstate(divide="ignore", invalid="ignore"):
        inv_dy = np.where(dy != 0, 1.0 / np.where(dy == 0, 1.0, dy), 0.0)
    for s in range(0, len(px), chunk):
        X = px[s : s + chunk, None]
        Y = py[s : s + chunk, None]
        straddle = ((y1 <= Y) & (Y < y2)) | ((y2 <= Y) & (Y < y1))
        # x of edge at height Y
        xi = x1 + (Y - y1) * (x2 - x1) * inv_dy
        crossings = (straddle & (xi > X)).sum(axis=1)
        inside = (crossings & 1).astype(bool)
        # boundary detection: point on segment (incl. horizontal edges)
        minx = np.minimum(x1, x2)
        maxx = np.maximum(x1, x2)
        miny = np.minimum(y1, y2)
        maxy = np.maximum(y1, y2)
        cross = (x2 - x1) * (Y - y1) - (y2 - y1) * (X - x1)
        on_edge = (
            (np.abs(cross) <= 1e-12)
            & (X >= minx) & (X <= maxx) & (Y >= miny) & (Y <= maxy)
        ).any(axis=1)
        out[s : s + chunk] = np.where(on_edge, boundary_is_inside, inside)
    return out


def point_in_wkb(px, py, wkb: bytes) -> np.ndarray:
    """Convenience: ray-cast against a WKB polygon (test oracle path)."""
    return points_in_edgesoup(np.atleast_1d(px), np.atleast_1d(py), EdgeSoup.from_wkb(wkb))


# ---------------------------------------------------------------------------
# Prepared covering: quadtree cells classified FULL / BOUNDARY
# ---------------------------------------------------------------------------

FULL = 0      # cell entirely inside the polygon → containment short-circuits
BOUNDARY = 1  # polygon edge passes through the cell → exact refine needed


def _segment_intersects_box(soup: EdgeSoup, lon0, lat0, lon1, lat1) -> np.ndarray:
    """Per-cell bool: does any polygon edge intersect the [box]?

    Conservative-but-exact separating-axis test per (edge, box) pair,
    vectorized over cells (boxes are arrays, edges broadcast).
    """
    x1, y1, x2, y2 = (a[None, :] for a in (soup.x1, soup.y1, soup.x2, soup.y2))
    L, B, R, T = (np.asarray(v, dtype=np.float64)[:, None] for v in (lon0, lat0, lon1, lat1))
    # bbox reject
    overlap = (
        (np.minimum(x1, x2) <= R) & (np.maximum(x1, x2) >= L)
        & (np.minimum(y1, y2) <= T) & (np.maximum(y1, y2) >= B)
    )
    # line side test: all 4 corners strictly on one side of the edge line → no hit
    dx, dy = x2 - x1, y2 - y1
    s1 = dx * (B - y1) - dy * (L - x1)
    s2 = dx * (B - y1) - dy * (R - x1)
    s3 = dx * (T - y1) - dy * (L - x1)
    s4 = dx * (T - y1) - dy * (R - x1)
    all_pos = (s1 > 0) & (s2 > 0) & (s3 > 0) & (s4 > 0)
    all_neg = (s1 < 0) & (s2 < 0) & (s3 < 0) & (s4 < 0)
    return (overlap & ~(all_pos | all_neg)).any(axis=1)


def cover_polygon(polys: list[list[np.ndarray]], res: int,
                  max_cells: int = 4096, min_res: int = 3):
    """Quadtree covering of a polygon: (cell_ids int64, kinds int8).

    Top-down refinement from ``min_res``: cells whose box intersects no
    edge are either FULL (center inside) or dropped (outside); cells cut
    by an edge recurse until ``res``, where they are kept as BOUNDARY.
    ``max_cells`` caps the covering size by lowering the effective leaf
    resolution (coarser BOUNDARY cells = more refine work, never wrong).

    This table *is* the engine's prepared-geometry: the PIP join first
    equi-joins points' cell ids against it; FULL hits skip ray casting.
    """
    from . import cells as C

    soup = EdgeSoup(polys)
    if len(soup.x1) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int8)
    bx0, by0, bx1, by1 = soup.bbox

    start = min(min_res, res)
    # seed: all cells at `start` overlapping the bbox
    n = 1 << start
    x0 = max(0, min(n - 1, int(np.floor((bx0 + 180.0) / 360.0 * n))))
    x1_ = max(0, min(n - 1, int(np.floor((bx1 + 180.0) / 360.0 * n))))
    y0 = max(0, min(n - 1, int(np.floor((by0 + 90.0) / 180.0 * n))))
    y1_ = max(0, min(n - 1, int(np.floor((by1 + 90.0) / 180.0 * n))))
    xs, ys = np.meshgrid(np.arange(x0, x1_ + 1), np.arange(y0, y1_ + 1))
    frontier = C.cell_from_xy(xs.ravel(), ys.ravel(), start)

    full_parts, boundary_parts = [], []
    level = start
    while len(frontier):
        lon0, lat0, lon1, lat1 = C.cell_bounds(frontier)
        cut = _segment_intersects_box(soup, lon0, lat0, lon1, lat1)
        clean = frontier[~cut]
        if len(clean):
            cx = (lon0[~cut] + lon1[~cut]) / 2
            cy = (lat0[~cut] + lat1[~cut]) / 2
            inside = points_in_edgesoup(cx, cy, soup)
            full_parts.append(clean[inside])
        cut_cells = frontier[cut]
        if level >= res or (len(cut_cells) * 4 + sum(map(len, full_parts))
                            + sum(map(len, boundary_parts))) > max_cells:
            boundary_parts.append(cut_cells)
            break
        frontier = children_flat = C.children_cells(cut_cells).ravel()
        level += 1
    cells_full = np.concatenate(full_parts) if full_parts else np.empty(0, np.int64)
    cells_bnd = np.concatenate(boundary_parts) if boundary_parts else np.empty(0, np.int64)
    ids = np.concatenate([cells_full, cells_bnd])
    kinds = np.concatenate([
        np.zeros(len(cells_full), dtype=np.int8),
        np.ones(len(cells_bnd), dtype=np.int8),
    ])
    return ids, kinds


# ---------------------------------------------------------------------------
# Curve predicates (coastline checks)
# ---------------------------------------------------------------------------


def ring_is_ccw(ring: np.ndarray) -> bool:
    """Shoelace orientation (islands must be CCW,
    ``BrokenCoastlineAnalyzer.cs:195-198``)."""
    ring = np.asarray(ring, dtype=np.float64)
    x, y = ring[:, 0], ring[:, 1]
    return float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) > 0


def segments_cross(a: np.ndarray, b: np.ndarray) -> bool:
    """Do polylines a and b properly cross (interior intersection)?

    Vectorized all-pairs orientation test — the engine's stand-in for
    DE-9IM IsCrosses on Curve×Curve (``BrokenCoastlineAnalyzer.cs:93``).
    Shared endpoints (touching) do NOT count as crossing.
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if len(a) < 2 or len(b) < 2:
        return False
    ax1, ay1 = a[:-1, 0][:, None], a[:-1, 1][:, None]
    ax2, ay2 = a[1:, 0][:, None], a[1:, 1][:, None]
    bx1, by1 = b[:-1, 0][None, :], b[:-1, 1][None, :]
    bx2, by2 = b[1:, 0][None, :], b[1:, 1][None, :]
    d1 = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)
    d2 = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)
    d3 = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
    d4 = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)
    # strict sign change on both: endpoint touches (a d == 0) don't count
    return bool(((d1 * d2 < 0) & (d3 * d4 < 0)).any())


def polyline_self_intersects(coords: np.ndarray) -> bool:
    """IsSimple analog (``BrokenCoastlineAnalyzer.cs:213-217``):
    any two non-adjacent segments properly crossing."""
    coords = np.asarray(coords, dtype=np.float64)
    m = len(coords) - 1
    if m < 3:
        return False
    x1, y1 = coords[:-1, 0], coords[:-1, 1]
    x2, y2 = coords[1:, 0], coords[1:, 1]
    i = np.arange(m)
    # pairwise proper-crossing among non-adjacent segments
    d1 = (x2[:, None] - x1[:, None]) * (y1[None, :] - y1[:, None]) - (
        y2[:, None] - y1[:, None]
    ) * (x1[None, :] - x1[:, None])
    d2 = (x2[:, None] - x1[:, None]) * (y2[None, :] - y1[:, None]) - (
        y2[:, None] - y1[:, None]
    ) * (x2[None, :] - x1[:, None])
    d3 = (x2[None, :] - x1[None, :]) * (y1[:, None] - y1[None, :]) - (
        y2[None, :] - y1[None, :]
    ) * (x1[:, None] - x1[None, :])
    d4 = (x2[None, :] - x1[None, :]) * (y2[:, None] - y1[None, :]) - (
        y2[None, :] - y1[None, :]
    ) * (x2[:, None] - x1[None, :])
    proper = (d1 * d2 < 0) & (d3 * d4 < 0)  # strict: shared endpoints excluded
    nonadj = np.abs(i[:, None] - i[None, :]) > 1
    return bool((proper & nonadj).any())


def polygon_area(rings: list[np.ndarray]) -> float:
    """Signed-area sum (shell positive, holes negative if CW)."""
    total = 0.0
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        x, y = r[:, 0], r[:, 1]
        total += 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    return total
