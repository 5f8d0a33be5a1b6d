"""Deterministic admin-polygon fixture set (FIXTURES.md §2).

Mirrors the reference's ``Admins`` SpatiaLite table
(``AdminCountPerCountryAnalyzer.cs:36-38``: Id, FriendlyName,
AdminLevel, Reason, geom) with a deterministic synthetic hierarchy:

* "countries" (admin_level 2): large rectangles tiling chunks of the
  world — rectangles so the DuckDB oracle can express containment as
  plain range predicates;
* nested level-4 / level-6 admins inside each country (containment
  chains), one overlapping pair (the reference's Overlaps branch,
  ``AdminCountPerCountryAnalyzer.cs:515-518``);
* non-rectangular shapes (L-shape/diamond/holed) for the pytest-only
  exact-geometry checks;
* broken polygons: ``geom_wkb = NULL`` + each failure-reason string
  from ``BuildPolygonFromRelation.cs:70-137``;
* an antimeridian-crossing pair encoded as a two-part MultiPolygon
  (west strip + east strip), the engine's documented convention.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions import geometry as G

# failure-reason strings reproduced verbatim from the reference
# (BuildPolygonFromRelation.cs:70-117) — kept in sync with
# operators/assembly.py, which documents the full taxonomy
REASONS = [
    "Missing ways",
    "Member without role",
    "No outer ways found",
    "Some outer ways are unused.",
    "Some outer ways form cut edges.",
    "Some outer ways form invalid rings.",
    "Invalid polygon.",
]


def rect_wkb(lon0: float, lat0: float, lon1: float, lat1: float) -> bytes:
    ring = np.array(
        [[lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1], [lon0, lat0]],
        dtype=np.float64,
    )
    return G.rings_to_wkb([G.snap(ring)])


def rect_bounds() -> list[tuple[int, str, int, tuple[float, float, float, float]]]:
    """The rectangular (oracle-expressible) admin set:
    (relation_id, name, admin_level, (lon0, lat0, lon1, lat1))."""
    out = []
    # 4 countries: big world quadrant rectangles (avoid poles)
    countries = [
        (100, "Westland", (-150.0, -60.0, -30.0, 60.0)),
        (200, "Eastland", (30.0, -60.0, 150.0, 60.0)),
        (300, "Northreach", (-20.0, 20.0, 20.0, 75.0)),
        (400, "Southreach", (-20.0, -75.0, 20.0, -20.0)),
    ]
    for rid, name, b in countries:
        out.append((rid, name, 2, b))
        lon0, lat0, lon1, lat1 = b
        w, h = lon1 - lon0, lat1 - lat0
        # two level-4 admins per country (left/right halves, inset)
        for j, (fx0, fx1) in enumerate(((0.05, 0.45), (0.55, 0.95))):
            rid4 = rid + 10 + j
            b4 = (lon0 + fx0 * w, lat0 + 0.1 * h, lon0 + fx1 * w, lat0 + 0.9 * h)
            out.append((rid4, f"{name}-p{j}", 4, b4))
            # one level-6 admin inside each level-4
            x0, y0, x1, y1 = b4
            b6 = (x0 + 0.25 * (x1 - x0), y0 + 0.25 * (y1 - y0),
                  x0 + 0.75 * (x1 - x0), y0 + 0.75 * (y1 - y0))
            out.append((rid4 * 10, f"{name}-p{j}-c", 6, b6))
    # one overlapping pair at level 4 inside Westland (Overlaps branch)
    out.append((199, "Westland-overlap", 4, (-100.0, -10.0, -60.0, 30.0)))
    return out


def admin_polygons_pdf() -> pd.DataFrame:
    rows = []
    for rid, name, level, (lon0, lat0, lon1, lat1) in rect_bounds():
        rows.append((rid, name, level, rect_wkb(lon0, lat0, lon1, lat1), None))
    # non-rectangular extras (pytest-only exact geometry)
    l_shape = G.rings_to_wkb([np.array(
        [[-10, -10], [10, -10], [10, 0], [0, 0], [0, 10], [-10, 10], [-10, -10]],
        dtype=np.float64)])
    rows.append((500, "Elbonia", 2, l_shape, None))
    diamond = G.rings_to_wkb([np.array(
        [[160, 0], [165, 5], [160, 10], [155, 5], [160, 0]], dtype=np.float64)])
    rows.append((510, "Rhombia", 4, diamond, None))
    holed = G.rings_to_wkb([
        np.array([[60, 62], [80, 62], [80, 74], [60, 74], [60, 62]], dtype=np.float64),
        np.array([[66, 65], [74, 65], [74, 71], [66, 71], [66, 65]], dtype=np.float64),
    ])
    rows.append((520, "Annulia", 4, holed, None))
    # antimeridian-crossing: two-part MultiPolygon (documented convention)
    anti = G.polygons_to_wkb([
        [np.array([[170, -15], [180, -15], [180, 15], [170, 15], [170, -15]], dtype=np.float64)],
        [np.array([[-180, -15], [-170, -15], [-170, 15], [-180, 15], [-180, -15]], dtype=np.float64)],
    ])
    rows.append((530, "Meridiana", 2, anti, None))
    # broken polygons: null geom + each reference failure reason
    for k, reason in enumerate(REASONS):
        rows.append((900 + k, f"Broken-{k}", 4, None, reason))
    return pd.DataFrame(rows, columns=["relation_id", "name", "admin_level",
                                       "geom_wkb", "reason"])


def valid_polygon_list(levels: tuple[int, ...] | None = None,
                       rect_only: bool = False) -> list[tuple[int, bytes]]:
    """[(relation_id, wkb)] for the valid (geom-bearing) fixture rows."""
    pdf = admin_polygons_pdf()
    pdf = pdf[pdf.geom_wkb.notna()]
    if levels is not None:
        pdf = pdf[pdf.admin_level.isin(levels)]
    if rect_only:
        pdf = pdf[pdf.relation_id.isin([r[0] for r in rect_bounds()])]
    return [(int(r.relation_id), r.geom_wkb) for r in pdf.itertuples()]
