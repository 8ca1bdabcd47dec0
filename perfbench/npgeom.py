"""Plain-numpy geometry used to make the benchmark's inputs and to check
the library's answers without calling the library.

Geometries are kept as nested Python lists of ``(n, 2)`` float64 arrays:
a polygon is a list of rings (first ring is the shell), a multipolygon is
a list of polygons, a line is one array, a point is a length-2 array.
The WKB codec covers the 2-D little-endian/big-endian subset the library
emits, with or without the EWKB SRID word.
"""

from __future__ import annotations

import struct

import numpy as np

POINT, LINE, POLY, MPOINT, MLINE, MPOLY, COLL = 1, 2, 3, 4, 5, 6, 7
_SRID_FLAG, _Z_FLAG, _M_FLAG = 0x20000000, 0x80000000, 0x40000000


# --------------------------------------------------------------------------
# WKB codec
# --------------------------------------------------------------------------

def _coords_bytes(a: np.ndarray) -> bytes:
    return struct.pack("<I", len(a)) + np.ascontiguousarray(a, dtype="<f8").tobytes()


def wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, POINT, x, y)


def wkb_line(a: np.ndarray) -> bytes:
    return struct.pack("<BI", 1, LINE) + _coords_bytes(a)


def _poly_body(rings) -> bytes:
    return struct.pack("<I", len(rings)) + b"".join(_coords_bytes(r) for r in rings)


def wkb_polygon(rings) -> bytes:
    return struct.pack("<BI", 1, POLY) + _poly_body(rings)


def wkb_multipolygon(polys) -> bytes:
    return struct.pack("<BII", 1, MPOLY, len(polys)) + b"".join(
        wkb_polygon(p) for p in polys)


def rect_ring(x0: float, y0: float, x1: float, y1: float) -> np.ndarray:
    """Closed axis-aligned ring in the library's ``st_rectangle`` order."""
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


def decode(buf: bytes):
    """``(type_id, payload)``; payload as described in the module doc, and a
    list of ``(type_id, payload)`` for a GeometryCollection. An empty point
    decodes to ``None``. Raises ``ValueError`` on Z/M input or trailing
    bytes."""
    g, pos = _read(memoryview(buf), 0)
    if pos != len(buf):
        raise ValueError(f"{len(buf) - pos} trailing bytes after WKB geometry")
    return g


def _read(mv, pos):
    bo = "<" if mv[pos] == 1 else ">"
    (raw,) = struct.unpack_from(bo + "I", mv, pos + 1)
    pos += 5
    if raw & (_Z_FLAG | _M_FLAG) or (raw & 0x0FFFFFFF) >= 1000:
        raise ValueError("only 2-D WKB is expected here")
    if raw & _SRID_FLAG:
        pos += 4
    t = raw & 0x0FFFFFFF

    def coords(p):
        (n,) = struct.unpack_from(bo + "I", mv, p)
        a = np.frombuffer(mv, dtype=bo + "f8", count=2 * n, offset=p + 4)
        return a.reshape(n, 2).astype(np.float64), p + 4 + 16 * n

    if t == POINT:
        xy = np.frombuffer(mv, dtype=bo + "f8", count=2, offset=pos).astype(np.float64)
        return (t, None if np.isnan(xy[0]) else xy), pos + 16
    if t == LINE:
        a, pos = coords(pos)
        return (t, a), pos
    if t == POLY:
        (nr,) = struct.unpack_from(bo + "I", mv, pos)
        pos += 4
        rings = []
        for _ in range(nr):
            r, pos = coords(pos)
            rings.append(r)
        return (t, rings), pos
    if t in (MPOINT, MLINE, MPOLY, COLL):
        (ng,) = struct.unpack_from(bo + "I", mv, pos)
        pos += 4
        parts = []
        for _ in range(ng):
            child, pos = _read(mv, pos)
            parts.append(child if t == COLL else child[1])
        return (t, parts), pos
    raise ValueError(f"unknown WKB type {t}")


def polygons_of(g) -> list:
    """Every polygon (list of rings) in a decoded geometry."""
    t, p = g
    if t == POLY:
        return [p] if p else []
    if t == MPOLY:
        return [q for q in p if q]
    if t == COLL:
        return [q for child in p for q in polygons_of(child)]
    return []


def lines_of(g) -> list:
    t, p = g
    if t == LINE:
        return [p] if len(p) else []
    if t == MLINE:
        return [q for q in p if len(q)]
    if t == COLL:
        return [q for child in p for q in lines_of(child)]
    return []


def points_of(g) -> list:
    t, p = g
    if t == POINT:
        return [] if p is None else [p]
    if t == MPOINT:
        return [q for q in p if q is not None]
    if t == COLL:
        return [q for child in p for q in points_of(child)]
    return []


def vertices(g) -> np.ndarray:
    parts = ([r for poly in polygons_of(g) for r in poly] + lines_of(g)
             + [p.reshape(1, 2) for p in points_of(g)])
    return np.concatenate(parts) if parts else np.empty((0, 2))


def bounds(g) -> tuple[float, float, float, float] | None:
    v = vertices(g)
    if not len(v):
        return None
    return (float(v[:, 0].min()), float(v[:, 1].min()),
            float(v[:, 0].max()), float(v[:, 1].max()))


# --------------------------------------------------------------------------
# Measures
# --------------------------------------------------------------------------

def ring_signed_area(r: np.ndarray) -> float:
    """Shoelace sum taken relative to the first vertex, which keeps the
    cross products small for rings far from the origin."""
    x, y = r[:, 0] - r[0, 0], r[:, 1] - r[0, 1]
    return 0.5 * float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))


def polygon_area(rings) -> float:
    """Shell area minus hole areas, orientation-independent."""
    if not rings:
        return 0.0
    return abs(ring_signed_area(rings[0])) - sum(abs(ring_signed_area(h)) for h in rings[1:])


def area(g) -> float:
    return sum(polygon_area(p) for p in polygons_of(g))


def chain_length(a: np.ndarray) -> float:
    return float(np.hypot(*np.diff(a, axis=0).T).sum()) if len(a) > 1 else 0.0


def length(g) -> float:
    """Line length, or polygon perimeter (shell plus holes)."""
    return (sum(chain_length(a) for a in lines_of(g))
            + sum(chain_length(r) for poly in polygons_of(g) for r in poly))


def vertex_count(g) -> int:
    return len(vertices(g))


# --------------------------------------------------------------------------
# Point location and distance
# --------------------------------------------------------------------------

def points_in_polygon(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd crossing test over every ring of one polygon; points are
    assumed off the boundary (the generator draws continuous coordinates)."""
    px, py = np.asarray(px)[:, None], np.asarray(py)[:, None]
    crossings = np.zeros(len(px), dtype=np.int64)
    for r in rings:
        a, b, c, d = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
        cross = (b > py) != (d > py)
        dy = np.where(d == b, 1.0, d - b)
        crossings += (cross & (px < a + (py - b) * (c - a) / dy)).sum(axis=1)
    return crossings % 2 == 1


def points_in_geometry(px, py, g) -> np.ndarray:
    out = np.zeros(len(px), dtype=bool)
    for poly in polygons_of(g):
        out |= points_in_polygon(px, py, poly)
    return out


def segments(g) -> np.ndarray:
    """``(k, 4)`` array of every boundary / line segment."""
    chains = [r for poly in polygons_of(g) for r in poly] + lines_of(g)
    segs = [np.hstack([c[:-1], c[1:]]) for c in chains if len(c) > 1]
    return np.concatenate(segs) if segs else np.empty((0, 4))


def point_segments_distance(px: float, py: float, s: np.ndarray) -> float:
    ax, ay, bx, by = s[:, 0], s[:, 1], s[:, 2], s[:, 3]
    dx, dy = bx - ax, by - ay
    ll = dx * dx + dy * dy
    t = np.clip(((px - ax) * dx + (py - ay) * dy) / np.where(ll > 0, ll, 1.0), 0.0, 1.0)
    return float(np.hypot(px - (ax + t * dx), py - (ay + t * dy)).min())


# --------------------------------------------------------------------------
# Clipping and hulls (closed forms for the construct checks)
# --------------------------------------------------------------------------

def _clip_half(poly: np.ndarray, axis: int, bound: float, keep_ge: bool) -> np.ndarray:
    """One Sutherland–Hodgman pass over an open vertex list."""
    if not len(poly):
        return poly
    v = poly[:, axis] - bound
    inside = v >= 0 if keep_ge else v <= 0
    nxt = np.roll(poly, -1, axis=0)
    vn = np.roll(v, -1)
    inn = np.roll(inside, -1)
    out = []
    for i in range(len(poly)):
        if inside[i]:
            out.append(poly[i])
        if inside[i] != inn[i]:
            t = v[i] / (v[i] - vn[i])
            out.append(poly[i] + t * (nxt[i] - poly[i]))
    return np.array(out).reshape(-1, 2)


def ring_clip_signed_area(r: np.ndarray, box) -> float:
    """Signed area of a ring clipped to an axis rectangle. Sutherland–Hodgman
    can leave degenerate edges on a non-convex ring, but the signed area of
    its output is exact, so shell-minus-holes sums stay exact."""
    p = r[:-1]
    x0, y0, x1, y1 = box
    for axis, bound, ge in ((0, x0, True), (0, x1, False), (1, y0, True), (1, y1, False)):
        p = _clip_half(p, axis, bound, ge)
    if len(p) < 3:
        return 0.0
    return ring_signed_area(np.vstack([p, p[:1]]))


def clipped_area(g, box) -> float:
    return sum(abs(ring_clip_signed_area(poly[0], box))
               - sum(abs(ring_clip_signed_area(h, box)) for h in poly[1:])
               for poly in polygons_of(g))


def clipped_length(g, box) -> float:
    """Length of the line parts inside an axis rectangle (Liang–Barsky)."""
    s = np.concatenate([np.hstack([a[:-1], a[1:]]) for a in lines_of(g)]) \
        if lines_of(g) else np.empty((0, 4))
    if not len(s):
        return 0.0
    x0, y0, x1, y1 = box
    ax, ay = s[:, 0], s[:, 1]
    dx, dy = s[:, 2] - ax, s[:, 3] - ay
    lo, hi = np.zeros(len(s)), np.ones(len(s))
    for p, q in ((-dx, ax - x0), (dx, x1 - ax), (-dy, ay - y0), (dy, y1 - ay)):
        with np.errstate(divide="ignore", invalid="ignore"):
            t = q / p
        par = p == 0
        lo = np.where(~par & (p < 0), np.maximum(lo, t), lo)
        hi = np.where(~par & (p > 0), np.minimum(hi, t), hi)
        hi = np.where(par & (q < 0), -1.0, hi)
    frac = np.clip(hi - lo, 0.0, None)
    return float((frac * np.hypot(dx, dy)).sum())


def hull_area(v: np.ndarray) -> float:
    """Area of the convex hull of a vertex set (Andrew's monotone chain)."""
    pts = np.unique(v, axis=0)
    if len(pts) < 3:
        return 0.0
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(seq):
        h = []
        for p in seq:
            while len(h) >= 2 and ((h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                                   - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])) <= 0:
                h.pop()
            h.append(p)
        return h

    hull = np.array(half(pts)[:-1] + half(pts[::-1])[:-1])
    return abs(ring_signed_area(np.vstack([hull, hull[:1]]))) if len(hull) >= 3 else 0.0


def lattice_union_area(rects: np.ndarray) -> float:
    """Exact union area of axis rectangles with integer corners
    (rows ``x0, y0, x1, y1``), by coverage counting on the unit lattice."""
    r = rects.astype(np.int64)
    ox, oy = r[:, 0].min(), r[:, 1].min()
    w, h = r[:, 2].max() - ox, r[:, 3].max() - oy
    d = np.zeros((w + 1, h + 1), dtype=np.int32)
    np.add.at(d, (r[:, 0] - ox, r[:, 1] - oy), 1)
    np.add.at(d, (r[:, 2] - ox, r[:, 1] - oy), -1)
    np.add.at(d, (r[:, 0] - ox, r[:, 3] - oy), -1)
    np.add.at(d, (r[:, 2] - ox, r[:, 3] - oy), 1)
    return float((d.cumsum(0).cumsum(1) > 0).sum())
