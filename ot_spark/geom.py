"""Pure-python/numpy computational geometry.

No shapely/GEOS in the target environment, and the reference's geometry
needs are narrow (SURVEY.md §7.0): WKT POLYGON/MULTIPOLYGON parsing
(/root/reference/src/area.rs:125-132), bounding boxes, point-in-polygon
with boundary inclusion (geo crate ``intersects`` semantics used at
area.rs:381), and polygon-by-box clipping for the index build
(area.rs:106-113, ``BooleanOps::intersection`` against rectangular tiles —
Sutherland–Hodgman suffices because the clip region is convex).

All point tests are vectorized numpy over whole Arrow batches — these run
inside spatial_enrich's Arrow UDF on executors.

Representation: ring = (N,2) float64 array of (lon, lat), closed or open
(we normalize to open); polygon = list[ring] (ring 0 outer, rest holes);
multipolygon = list[polygon].
"""

from __future__ import annotations

import re

import numpy as np

Ring = np.ndarray
Polygon = list[Ring]
MultiPolygon = list[Polygon]

_NUM = r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
_PAIR_RE = re.compile(rf"({_NUM})\s+({_NUM})")


def _parse_ring(ring_text: str) -> Ring:
    pairs = _PAIR_RE.findall(ring_text)
    arr = np.array([[float(x), float(y)] for x, y in pairs], dtype=np.float64)
    if len(arr) > 1 and np.array_equal(arr[0], arr[-1]):
        arr = arr[:-1]  # store open rings
    return arr


def _split_top_level(s: str) -> list[str]:
    """Split on commas at parenthesis depth 0."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return parts


def parse_wkt(wkt: str) -> MultiPolygon:
    """POLYGON / MULTIPOLYGON (lon lat order) -> MultiPolygon.

    Raises ValueError on other geometry types — the reference skips such
    rows with a warning (area.rs:241-247); callers decide."""
    s = wkt.strip()
    upper = s.upper()
    if upper.startswith("MULTIPOLYGON"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        polys = []
        for poly_text in _split_top_level(body):
            pt = poly_text.strip()
            pt = pt[pt.index("(") + 1 : pt.rindex(")")]
            rings = [
                _parse_ring(r.strip().strip("()")) for r in _split_top_level(pt)
            ]
            polys.append(rings)
        return polys
    if upper.startswith("POLYGON"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        rings = [_parse_ring(r.strip().strip("()")) for r in _split_top_level(body)]
        return [rings]
    raise ValueError(f"Unsupported geometry type: {wkt[:40]}")


def mp_bbox(mp: MultiPolygon) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) over outer rings."""
    pts = np.vstack([poly[0] for poly in mp])
    return (
        float(pts[:, 0].min()),
        float(pts[:, 1].min()),
        float(pts[:, 0].max()),
        float(pts[:, 1].max()),
    )


def ring_area(ring: Ring) -> float:
    """Unsigned shoelace area."""
    if len(ring) < 3:
        return 0.0
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * abs(
        float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))
    )


def points_on_ring(lon: np.ndarray, lat: np.ndarray, ring: Ring) -> np.ndarray:
    """Boolean mask: point lies on a ring segment (boundary inclusion)."""
    eps = 1e-12
    on = np.zeros(len(lon), dtype=bool)
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        cross = (x2 - x1) * (lat - y1) - (y2 - y1) * (lon - x1)
        within = (
            (np.minimum(x1, x2) - eps <= lon)
            & (lon <= np.maximum(x1, x2) + eps)
            & (np.minimum(y1, y2) - eps <= lat)
            & (lat <= np.maximum(y1, y2) + eps)
        )
        on |= (np.abs(cross) <= eps) & within
    return on


def points_in_ring(lon: np.ndarray, lat: np.ndarray, ring: Ring) -> np.ndarray:
    """Even-odd ray casting (interior only; combine with points_on_ring)."""
    inside = np.zeros(len(lon), dtype=bool)
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        crosses = (y1 > lat) != (y2 > lat)
        if not crosses.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xin = (x2 - x1) * (lat - y1) / (y2 - y1) + x1
        inside ^= crosses & (lon < xin)
    return inside


def points_intersect_mp(lon: np.ndarray, lat: np.ndarray, mp: MultiPolygon) -> np.ndarray:
    """geo-crate ``intersects(point)`` semantics: interior OR boundary
    (area.rs:381 — border points match BOTH adjacent countries)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    result = np.zeros(len(lon), dtype=bool)
    for poly in mp:
        outer = poly[0]
        m = points_in_ring(lon, lat, outer) | points_on_ring(lon, lat, outer)
        for hole in poly[1:]:
            in_hole = points_in_ring(lon, lat, hole) & ~points_on_ring(lon, lat, hole)
            m &= ~in_hole
        result |= m
    return result


def clip_ring_to_box(
    ring: Ring, min_lon: float, min_lat: float, max_lon: float, max_lat: float
) -> Ring | None:
    """Sutherland–Hodgman clip of a ring by an axis-aligned box (convex
    clip region). Returns the clipped ring or None if empty."""
    def clip_edge(pts: np.ndarray, inside_fn, intersect_fn) -> np.ndarray:
        if len(pts) == 0:
            return pts
        out = []
        n = len(pts)
        for i in range(n):
            cur, nxt = pts[i], pts[(i + 1) % n]
            cur_in, nxt_in = inside_fn(cur), inside_fn(nxt)
            if cur_in:
                out.append(cur)
                if not nxt_in:
                    out.append(intersect_fn(cur, nxt))
            elif nxt_in:
                out.append(intersect_fn(cur, nxt))
        return np.array(out) if out else np.empty((0, 2))

    def x_cross(p, q, x):
        t = (x - p[0]) / (q[0] - p[0])
        return np.array([x, p[1] + t * (q[1] - p[1])])

    def y_cross(p, q, y):
        t = (y - p[1]) / (q[1] - p[1])
        return np.array([p[0] + t * (q[0] - p[0]), y])

    pts = ring
    pts = clip_edge(pts, lambda p: p[0] >= min_lon, lambda p, q: x_cross(p, q, min_lon))
    pts = clip_edge(pts, lambda p: p[0] <= max_lon, lambda p, q: x_cross(p, q, max_lon))
    pts = clip_edge(pts, lambda p: p[1] >= min_lat, lambda p, q: y_cross(p, q, min_lat))
    pts = clip_edge(pts, lambda p: p[1] <= max_lat, lambda p, q: y_cross(p, q, max_lat))
    if len(pts) < 3 or ring_area(pts) == 0.0:
        return None
    return pts


def clip_mp_to_box(
    mp: MultiPolygon, min_lon: float, min_lat: float, max_lon: float, max_lat: float
) -> MultiPolygon:
    """Clip every polygon's rings by the box. Holes are clipped the same
    way (correct for hole-free fixtures; holes fully inside the box also
    correct; partial hole-edge cases are approximated — documented
    limitation, the reference relies on GEOS here)."""
    out: MultiPolygon = []
    for poly in mp:
        outer = clip_ring_to_box(poly[0], min_lon, min_lat, max_lon, max_lat)
        if outer is None:
            continue
        rings = [outer]
        for hole in poly[1:]:
            ch = clip_ring_to_box(hole, min_lon, min_lat, max_lon, max_lat)
            if ch is not None:
                rings.append(ch)
        out.append(rings)
    return out


def box_ring(min_lon: float, min_lat: float, max_lon: float, max_lat: float) -> Ring:
    return np.array(
        [[min_lon, min_lat], [max_lon, min_lat], [max_lon, max_lat], [min_lon, max_lat]],
        dtype=np.float64,
    )


def mp_contains_box(
    mp: MultiPolygon, min_lon: float, min_lat: float, max_lon: float, max_lat: float
) -> bool:
    """geo ``contains(rect)`` analog: box fully inside the multipolygon.

    True iff the clip of the box against the mp equals the whole box — for
    polygons vs axis boxes this is: all 4 corners strictly-or-boundary
    inside one polygon AND no polygon edge crosses the box interior. We use
    the clip-area criterion which is exact for simple polygons."""
    clipped = clip_mp_to_box(mp, min_lon, min_lat, max_lon, max_lat)
    box_area = (max_lon - min_lon) * (max_lat - min_lat)
    clip_area = sum(
        ring_area(poly[0]) - sum(ring_area(h) for h in poly[1:]) for poly in clipped
    )
    # strict contains per geo crate: boundary touching still counts as
    # contains only if interior covers — area equality captures that
    return abs(clip_area - box_area) <= 1e-12 * max(box_area, 1.0)


def mp_to_wkt(mp: MultiPolygon) -> str:
    """Serialize for index persistence (area.rs:171-223 save analog)."""
    def ring_txt(r: Ring) -> str:
        pts = list(r) + [r[0]]
        return "(" + ", ".join(f"{x:.17g} {y:.17g}" for x, y in pts) + ")"

    polys = ", ".join(
        "(" + ", ".join(ring_txt(r) for r in poly) + ")" for poly in mp
    )
    return f"MULTIPOLYGON({polys})"
