"""Pure-numpy planar geometry — the engine's replacement for JTS/Shapely.

No geo libraries exist in this environment, so GeoJSON/WKT parsing,
vectorized point-in-polygon, rectangle classification (for compact cell
covers), rasterization by pixel-center test, and point->polygon distance are
implemented here directly. All hot paths are vectorized numpy, designed to be
called from Arrow pandas UDFs on batches.

Reference parity notes:
  - ProjectedPolygons (WKT/GeoJSON ingestion): openeo-geotrellis/.../ProjectedPolygons.scala:41-175
  - clipToGrid / rasterize semantics (pixel-center containment): used by
    AggregatePolygonProcess.scala:256 via Geotrellis RasterizeRDD defaults.
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass, field

import numpy as np

from .grid import Extent

DISJOINT, INTERSECTS, CONTAINS = 0, 1, 2


@dataclass
class Geometry:
    """kind in {'Point','MultiPoint','Polygon','MultiPolygon'}.

    polygons: list of polygons; each polygon is a list of rings; each ring an
    (N, 2) float64 array, not necessarily closed (closure handled internally).
    points: (N, 2) array for Point/MultiPoint.
    """

    kind: str
    polygons: list = field(default_factory=list)
    points: np.ndarray | None = None

    # -- bbox --------------------------------------------------------------
    def bbox(self) -> Extent:
        if self.kind in ("Point", "MultiPoint"):
            p = self.points
            return Extent(p[:, 0].min(), p[:, 1].min(), p[:, 0].max(), p[:, 1].max())
        xs = np.concatenate([r[:, 0] for poly in self.polygons for r in poly])
        ys = np.concatenate([r[:, 1] for poly in self.polygons for r in poly])
        return Extent(xs.min(), ys.min(), xs.max(), ys.max())

    def representative_point(self) -> tuple[float, float]:
        if self.kind in ("Point", "MultiPoint"):
            return float(self.points[0, 0]), float(self.points[0, 1])
        ring = self.polygons[0][0]
        return float(ring[:, 0].mean()), float(ring[:, 1].mean())


# ---------------------------------------------------------------------------
# Parsing
# ---------------------------------------------------------------------------


def _ring(coords) -> np.ndarray:
    a = np.asarray(coords, dtype=np.float64)
    if a.ndim != 2 or a.shape[1] < 2:
        raise ValueError("bad ring")
    return a[:, :2]


def from_geojson(obj: str | dict) -> Geometry:
    if isinstance(obj, str):
        obj = json.loads(obj)
    if obj.get("type") == "Feature":
        obj = obj["geometry"]
    t = obj["type"]
    c = obj["coordinates"]
    if t == "Point":
        return Geometry("Point", points=np.asarray([c[:2]], dtype=np.float64))
    if t == "MultiPoint":
        return Geometry("MultiPoint", points=np.asarray(c, dtype=np.float64)[:, :2])
    if t == "Polygon":
        return Geometry("Polygon", polygons=[[_ring(r) for r in c]])
    if t == "MultiPolygon":
        return Geometry("MultiPolygon", polygons=[[_ring(r) for r in poly] for poly in c])
    raise ValueError(f"unsupported GeoJSON type {t}")


_WKT_NUM = r"-?[0-9.eE+]+"


def from_wkt(wkt: str) -> Geometry:
    """Minimal WKT: POINT, POLYGON, MULTIPOLYGON (ProjectedPolygons.scala:41)."""
    s = wkt.strip()
    head = s.split("(", 1)[0].strip().upper()

    def parse_ring(txt: str) -> np.ndarray:
        pts = [
            [float(v) for v in re.findall(_WKT_NUM, pair)[:2]]
            for pair in txt.split(",")
        ]
        return np.asarray(pts, dtype=np.float64)

    if head == "POINT":
        nums = [float(v) for v in re.findall(_WKT_NUM, s)]
        return Geometry("Point", points=np.asarray([nums[:2]]))
    if head == "POLYGON":
        body = s[s.index("(") + 1 : s.rindex(")")]
        rings = [parse_ring(r) for r in re.findall(r"\(([^()]*)\)", body)]
        return Geometry("Polygon", polygons=[rings])
    if head == "MULTIPOLYGON":
        body = s[s.index("(") + 1 : s.rindex(")")]
        polys = []
        for poly_txt in re.findall(r"\((?:[^()]*\([^()]*\)[^()]*)+\)", body):
            rings = [parse_ring(r) for r in re.findall(r"\(([^()]*)\)", poly_txt)]
            polys.append(rings)
        return Geometry("MultiPolygon", polygons=polys)
    raise ValueError(f"unsupported WKT {head}")


def parse_geometry(txt: str) -> Geometry | None:
    """Best-effort parse of a text span: GeoJSON first, then WKT, else None."""
    t = txt.strip()
    if t.startswith("{"):
        try:
            return from_geojson(t)
        except (ValueError, KeyError, json.JSONDecodeError):
            return None
    if re.match(r"^(POINT|POLYGON|MULTIPOLYGON|MULTIPOINT)\s*\(", t, re.I):
        try:
            return from_wkt(t)
        except (ValueError, IndexError):
            return None
    return None


def rect_geometry(e: Extent) -> Geometry:
    ring = np.asarray(
        [[e.xmin, e.ymin], [e.xmax, e.ymin], [e.xmax, e.ymax], [e.xmin, e.ymax], [e.xmin, e.ymin]]
    )
    return Geometry("Polygon", polygons=[[ring]])


# ---------------------------------------------------------------------------
# Point-in-polygon (vectorized even-odd ray cast)
# ---------------------------------------------------------------------------


def _crossings(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Parity contribution of one ring for each point (boolean 'odd')."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    if ring[0, 0] != ring[-1, 0] or ring[0, 1] != ring[-1, 1]:
        x0 = np.append(x0, ring[-1, 0]); y0 = np.append(y0, ring[-1, 1])
        x1 = np.append(x1, ring[0, 0]); y1 = np.append(y1, ring[0, 1])
    px = px[:, None]
    py = py[:, None]
    cond = (y0 > py) != (y1 > py)
    # over: near-horizontal edges overflow the division to +-inf, which the
    # cond mask already excludes — same degenerate class as divide-by-zero
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    crosses = cond & (px < xint)
    return crosses.sum(axis=1) % 2 == 1


def points_in_geometry(geom: Geometry, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Vectorized containment test of N points against one geometry."""
    xs = np.asarray(xs, dtype=np.float64).ravel()
    ys = np.asarray(ys, dtype=np.float64).ravel()
    out = np.zeros(xs.shape[0], dtype=bool)
    if geom.kind in ("Point", "MultiPoint"):
        for gp in geom.points:
            out |= (xs == gp[0]) & (ys == gp[1])
        return out
    for poly in geom.polygons:
        # bbox gate: a point outside the outer ring's bounds can never be
        # inside — also guards the ray cast against degenerate numerics
        # (subnormal-coordinate sliver polygons under/overflow the crossing
        # division and can otherwise misreport, hypothesis-found)
        outer = np.asarray(poly[0], dtype=np.float64)
        in_bb = (
            (xs >= outer[:, 0].min()) & (xs <= outer[:, 0].max())
            & (ys >= outer[:, 1].min()) & (ys <= outer[:, 1].max())
        )
        if not in_bb.any():
            continue
        parity = np.zeros(xs.shape[0], dtype=bool)
        for ring in poly:
            parity ^= _crossings(xs, ys, ring)  # even-odd incl. holes
        out |= parity & in_bb
    return out


# ---------------------------------------------------------------------------
# Rectangle vs geometry classification (drives compact covers)
# ---------------------------------------------------------------------------


def _segments(geom: Geometry) -> tuple[np.ndarray, np.ndarray]:
    """All edges of all rings as (P0s, P1s) arrays (E, 2)."""
    p0s, p1s = [], []
    for poly in geom.polygons:
        for ring in poly:
            r = ring
            if r[0, 0] != r[-1, 0] or r[0, 1] != r[-1, 1]:
                r = np.vstack([r, r[:1]])
            p0s.append(r[:-1])
            p1s.append(r[1:])
    return np.concatenate(p0s), np.concatenate(p1s)


def _segments_intersect_rect(p0: np.ndarray, p1: np.ndarray, e: Extent) -> bool:
    """Any segment crosses the open rectangle? Liang-Barsky, vectorized."""
    dx = p1[:, 0] - p0[:, 0]
    dy = p1[:, 1] - p0[:, 1]
    t0 = np.zeros(len(p0))
    t1 = np.ones(len(p0))
    ok = np.ones(len(p0), dtype=bool)
    for p, q in (
        (-dx, p0[:, 0] - e.xmin),
        (dx, e.xmax - p0[:, 0]),
        (-dy, p0[:, 1] - e.ymin),
        (dy, e.ymax - p0[:, 1]),
    ):
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(p != 0, q / np.where(p == 0, 1, p), 0.0)
        par = p == 0
        ok &= ~(par & (q < 0))
        ent = (p < 0)
        t0 = np.where(~par & ent, np.maximum(t0, r), t0)
        t1 = np.where(~par & ~ent & (p > 0), np.minimum(t1, r), t1)
    return bool(np.any(ok & (t0 <= t1)))


def classify_rect(geom: Geometry, e: Extent) -> int:
    """CONTAINS(2) if the geometry fully covers rect ``e``; INTERSECTS(1) if
    partial overlap; DISJOINT(0) otherwise. Used by GlobalGrid.compact_cover."""
    if geom.kind in ("Point", "MultiPoint"):
        p = geom.points
        inside = (
            (p[:, 0] >= e.xmin) & (p[:, 0] <= e.xmax)
            & (p[:, 1] >= e.ymin) & (p[:, 1] <= e.ymax)
        )
        return INTERSECTS if inside.any() else DISJOINT
    bb = geom.bbox()
    if not bb.intersects(e) and not bb.contains(e):
        return DISJOINT
    cx = np.asarray([e.xmin, e.xmax, e.xmax, e.xmin])
    cy = np.asarray([e.ymin, e.ymin, e.ymax, e.ymax])
    corners_in = points_in_geometry(geom, cx, cy)
    p0, p1 = _segments(geom)
    edge_hit = _segments_intersect_rect(p0, p1, e)
    if corners_in.all() and not edge_hit:
        return CONTAINS
    if corners_in.any() or edge_hit:
        return INTERSECTS
    # rect may fully contain the geometry
    v = np.concatenate([r for poly in geom.polygons for r in poly])
    vin = (
        (v[:, 0] >= e.xmin) & (v[:, 0] <= e.xmax)
        & (v[:, 1] >= e.ymin) & (v[:, 1] <= e.ymax)
    )
    return INTERSECTS if vin.any() else DISJOINT


# ---------------------------------------------------------------------------
# Rasterization (pixel-center containment) & distance
# ---------------------------------------------------------------------------


def rasterize(geom: Geometry, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Boolean mask (len(ys), len(xs)): pixel center inside geometry.
    xs/ys are 1-D pixel-center coordinate arrays (ys north->south)."""
    gx, gy = np.meshgrid(xs, ys)
    return points_in_geometry(geom, gx.ravel(), gy.ravel()).reshape(gy.shape)


def distance_to_geometry(geom: Geometry, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Euclidean distance from each point to the geometry (0 if inside)."""
    xs = np.asarray(xs, dtype=np.float64).ravel()
    ys = np.asarray(ys, dtype=np.float64).ravel()
    if geom.kind in ("Point", "MultiPoint"):
        d2 = (
            (xs[:, None] - geom.points[None, :, 0]) ** 2
            + (ys[:, None] - geom.points[None, :, 1]) ** 2
        )
        return np.sqrt(d2.min(axis=1))
    p0, p1 = _segments(geom)
    d = p1 - p0
    len2 = (d**2).sum(axis=1)
    len2 = np.where(len2 == 0, 1.0, len2)
    # project each point on each segment: t in [0,1]
    px = xs[:, None] - p0[None, :, 0]
    py = ys[:, None] - p0[None, :, 1]
    t = np.clip((px * d[None, :, 0] + py * d[None, :, 1]) / len2[None, :], 0.0, 1.0)
    ddx = px - t * d[None, :, 0]
    ddy = py - t * d[None, :, 1]
    dist = np.sqrt((ddx**2 + ddy**2).min(axis=1))
    inside = points_in_geometry(geom, xs, ys)
    dist[inside] = 0.0
    return dist


def clip_ring_to_rect(ring: np.ndarray, e: Extent) -> np.ndarray:
    """Sutherland–Hodgman: clip one ring against the axis-aligned rect
    ``e`` (the rect is the CONVEX clip window, so the subject ring may be
    arbitrary — concave, any orientation). Returns the clipped ring
    ((M, 2), possibly empty). The classic four half-plane passes; vertices
    on the boundary count as inside, so shared edges clip exactly."""
    pts = np.asarray(ring, dtype=np.float64)
    if len(pts) and (pts[0] == pts[-1]).all():
        pts = pts[:-1]  # open form; edges are cyclic below
    # (axis, bound, keep_if_greater)
    planes = (
        (0, e.xmin, True),
        (0, e.xmax, False),
        (1, e.ymin, True),
        (1, e.ymax, False),
    )
    for axis, bound, greater in planes:
        if len(pts) == 0:
            break
        out: list = []
        n = len(pts)
        for i in range(n):
            p, q = pts[i], pts[(i + 1) % n]
            pin = p[axis] >= bound if greater else p[axis] <= bound
            qin = q[axis] >= bound if greater else q[axis] <= bound
            if pin:
                out.append(p)
            if pin != qin:  # edge crosses the boundary: emit intersection
                t = (bound - p[axis]) / (q[axis] - p[axis])
                out.append(p + t * (q - p))
        pts = np.asarray(out, dtype=np.float64).reshape(-1, 2)
    return pts


def clip_ring_to_convex(ring: np.ndarray, clip_ring: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman against an ARBITRARY CONVEX clip polygon: one
    half-plane pass per clip edge (orientation normalized to CCW first).
    The subject ring may be anything; the clip ring must be convex —
    checked by :func:`is_convex_ring` at call sites that accept user
    polygons."""
    pts = np.asarray(ring, dtype=np.float64)
    if len(pts) and (pts[0] == pts[-1]).all():
        pts = pts[:-1]
    cp = np.asarray(clip_ring, dtype=np.float64)
    if len(cp) and (cp[0] == cp[-1]).all():
        cp = cp[:-1]
    # normalize clip orientation to CCW so 'inside' is a non-negative cross
    x, y = cp[:, 0], cp[:, 1]
    signed = 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    if signed < 0.0:
        cp = cp[::-1]
    n_clip = len(cp)
    for e in range(n_clip):
        if len(pts) == 0:
            break
        a, b = cp[e], cp[(e + 1) % n_clip]
        ex, ey = b[0] - a[0], b[1] - a[1]
        out: list = []
        n = len(pts)
        for i in range(n):
            p, q = pts[i], pts[(i + 1) % n]
            sp = ex * (p[1] - a[1]) - ey * (p[0] - a[0])
            sq = ex * (q[1] - a[1]) - ey * (q[0] - a[0])
            pin, qin = sp >= 0.0, sq >= 0.0
            if pin:
                out.append(p)
            if pin != qin:
                t = sp / (sp - sq)
                out.append(p + t * (q - p))
        pts = np.asarray(out, dtype=np.float64).reshape(-1, 2)
    return pts


def is_convex_ring(ring: np.ndarray) -> bool:
    """True when the ring is convex (all nonzero edge cross products share
    one sign; collinear runs allowed)."""
    cp = np.asarray(ring, dtype=np.float64)
    if len(cp) and (cp[0] == cp[-1]).all():
        cp = cp[:-1]
    if len(cp) < 3:
        return False
    d = np.roll(cp, -1, axis=0) - cp
    cross = d[:, 0] * np.roll(d[:, 1], -1) - d[:, 1] * np.roll(d[:, 0], -1)
    nz = cross[np.abs(cross) > 1e-12]
    return bool(nz.size == 0 or (nz > 0).all() or (nz < 0).all())


def clipped_area_convex(geom: Geometry, clip_ring: np.ndarray) -> float:
    """Area of geometry ∩ convex clip polygon (exterior minus holes)."""
    if geom.kind in ("Point", "MultiPoint"):
        return 0.0
    total = 0.0
    for poly in geom.polygons:
        for i, ring in enumerate(poly):
            a = _ring_area(clip_ring_to_convex(ring, clip_ring))
            total += a if i == 0 else -a
    return max(total, 0.0)


def _ring_area(ring: np.ndarray) -> float:
    """|shoelace| of a (possibly open) ring."""
    if len(ring) < 3:
        return 0.0
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * abs(
        float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    )


def clipped_area(geom: Geometry, e: Extent) -> float:
    """Area of geometry ∩ rect: per polygon, the clipped exterior ring's
    area minus its clipped holes' (GeoJSON ring convention). Points have
    zero area."""
    if geom.kind in ("Point", "MultiPoint"):
        return 0.0
    total = 0.0
    for poly in geom.polygons:
        for i, ring in enumerate(poly):
            a = _ring_area(clip_ring_to_rect(ring, e))
            total += a if i == 0 else -a
    return max(total, 0.0)


def reproject_geometry(
    geom: Geometry, src_crs: str, dst_crs: str, densify: int = 0
) -> Geometry:
    """Reproject a geometry by transforming its vertices through the
    closed-form CRS engine (ProjectedPolygons.reproject parity — geotrellis
    likewise maps vertices; ``densify`` inserts N extra points per edge
    first, so long edges follow the curved image of the line under
    non-affine warps like UTM/LAEA instead of cutting the chord)."""
    from .proj import point_transform

    pt = point_transform(src_crs, dst_crs)
    if geom.kind in ("Point", "MultiPoint"):
        x, y = pt(geom.points[:, 0], geom.points[:, 1])
        return Geometry(geom.kind, points=np.column_stack([x, y]))

    def _dense(ring: np.ndarray) -> np.ndarray:
        if densify <= 0:
            return ring
        closed = np.vstack([ring, ring[:1]]) if not np.array_equal(
            ring[0], ring[-1]
        ) else ring
        out = []
        for a, b in zip(closed[:-1], closed[1:]):
            ts = np.linspace(0.0, 1.0, densify + 2)[:-1, None]
            out.append(a + ts * (b - a))
        return np.vstack(out)

    polys = []
    for poly in geom.polygons:
        rings = []
        for ring in poly:
            d = _dense(ring)
            x, y = pt(d[:, 0], d[:, 1])
            rings.append(np.column_stack([x, y]))
        polys.append(rings)
    return Geometry(geom.kind, polygons=polys)
