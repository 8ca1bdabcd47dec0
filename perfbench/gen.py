"""Seeded input generator for the benchmark.

One process makes the input tables from ``--seed`` with numpy and
writes them as Parquet under ``--out``, in three parts (``mixed``,
``groups``, ``join``). Beside each part go its expected answers
(``<part>.truth.json``, computed here with ``npgeom``, not with the
library) and its measured properties (``<part>.props.json``: geometry
mix, vertex counts, group sizes, join selectivity, and the share of rows
the library's batch parsers accept).

    python3 perfbench/gen.py --seed 7 --out .perfbench/inputs/seed-7-x1

Tables (all coordinates are continuous, so no probe point lands on a
boundary except where a vertex is chosen on purpose):

- ``mixed``: mostly ragged star polygons with 0-2 holes and log-normal
  vertex counts, plus axis rects, lines, points and a few multipolygons;
  each row carries a probe point and a per-row clip rect.
- ``g_rects``: many small groups of integer-lattice rects (slab union).
- ``g_polys``: small groups of overlapping general star polygons.
- ``g_hot``: a few groups of hundreds of lattice rects, above
  ``HOT_GROUP_THRESHOLD``.
- ``points`` / ``polys``: clustered points against zone-confined polygons
  with holes; ``STAR_INNER`` sets the bbox-candidate-to-match selectivity.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [_HERE, os.path.dirname(_HERE)]
import npgeom as G  # noqa: E402

WORLD = 1000.0
ZONES = 8
# Row counts at scale 1; they keep a rep to a few seconds on a 4-core host.
SIZES = {
    "mixed": 1200,
    "g_rect_groups": 150,
    "g_poly_groups": 4,
    "g_hot_groups": 2,
    "g_hot_rows": 800,
    "points": 40000,
    "polys": 1500,
    "nn_points": 800,
}
MIX = (("poly", 0.58), ("rect", 0.12), ("line", 0.12), ("point", 0.10), ("mpoly", 0.08))
STAR_INNER = 0.55      # min shell radius / max shell radius of a star polygon
# Overlay cost grows fast with group size and vertex count, so the general
# polygon groups have a fixed shape and a seed changes only the geometry.
POLY_GROUP_ROWS = 10
POLY_GROUP_VERTICES = 10
HOT_GROUP_THRESHOLD = 500   # union_all_grouped: small groups below, hot above
CLIP_BOX = (150.0, 120.0, 720.0, 810.0)   # constant st_clip_by_rect window
BUFFER_D = 0.4
SIMPLIFY_TOL = 0.3


def sizes(scale: float) -> dict:
    return {k: max(2, int(round(v * scale))) for k, v in SIZES.items()}


def star_ring(rng, cx, cy, r, n, inner=STAR_INNER, ccw=True) -> np.ndarray:
    """Closed ring that is star-shaped around ``(cx, cy)``: one vertex per
    angular sector (so angles strictly increase and no gap reaches pi) at a
    radius in ``[inner*r, r]``. Such a ring is simple."""
    ang = (np.arange(n) + rng.uniform(0.1, 0.9, n)) * (2 * np.pi / n)
    rad = r * rng.uniform(inner, 1.0, n)
    pts = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    if not ccw:
        pts = pts[::-1]
    return np.vstack([pts, pts[:1]])


def star_polygon(rng, cx, cy, r, n, holes: int, inner=STAR_INNER) -> list:
    """Star shell with up to two holes placed inside the largest disc around
    the centre that the shell contains, and apart from each other."""
    shell = star_ring(rng, cx, cy, r, max(n, 3), inner)
    rings = [shell]
    if holes:
        rho = G.point_segments_distance(cx, cy, np.hstack([shell[:-1], shell[1:]]))
        t = rng.uniform(0, 2 * np.pi)
        off, hr = (0.0, 0.6 * rho) if holes == 1 else (0.5 * rho, 0.4 * rho)
        for k in range(holes):
            a = t + np.pi * k
            rings.append(star_ring(rng, cx + off * np.cos(a), cy + off * np.sin(a), hr,
                                   int(rng.integers(4, 13)), 0.6, ccw=False))
    return rings


def _shuffled(rng, values) -> list:
    return [values[i] for i in rng.permutation(len(values))]


def _spread(n: int, shares) -> list[int]:
    """Exactly ``round(n * share)`` of each index, largest share absorbing the
    rounding, so every seed has the same composition."""
    counts = [int(round(n * s)) for s in shares]
    counts[int(np.argmax(shares))] += n - sum(counts)
    return [i for i, c in enumerate(counts) for _ in range(c)]


def _vertex_counts(n: int) -> list[int]:
    """``n`` shell vertex counts at the quantiles of a log-normal (median 20,
    sigma 0.6) clipped to [6, 120]: the same multiset for every seed."""
    from statistics import NormalDist

    z = NormalDist()
    return [int(np.clip(round(np.exp(np.log(20) + 0.6 * z.inv_cdf((k + 0.5) / n))), 6, 120))
            for k in range(n)]


def _relate_point(kind: str, hit: bool) -> str:
    """DE-9IM of (geometry, probe point) for a probe off every boundary:
    inside/outside an areal geometry, on an interior vertex of a line or
    off it, equal to a point or apart."""
    if kind in ("poly", "rect", "mpoly"):
        return "0F2FF1FF2" if hit else "FF2FF10F2"
    if kind == "line":
        return "0F1FF0FF2" if hit else "FF1FF00F2"
    return "0FFFFFFF2" if hit else "FF0FFF0F2"


def gen_mixed(rng, n: int) -> tuple[dict, dict]:
    """The ``mixed`` table. Its composition (kind counts, vertex-count and
    hole-count multisets, parts per multipolygon) is fixed by ``n``; the seed
    shuffles it and draws every coordinate."""
    names = [k for k, _ in MIX]
    kinds = _shuffled(rng, [names[i] for i in _spread(n, [p for _, p in MIX])])
    n_poly, n_mpoly = kinds.count("poly"), kinds.count("mpoly")
    mpoly_parts = _shuffled(rng, [2 + i % 2 for i in range(n_mpoly)])
    shells = iter(_shuffled(rng, _vertex_counts(n_poly + sum(mpoly_parts))))
    holes = iter(_shuffled(rng, _spread(n_poly, (0.5, 0.3, 0.2))))
    line_verts = iter(_shuffled(rng, [4 + (37 * k) // max(kinds.count("line"), 1)
                                      for k in range(kinds.count("line"))]))
    mpoly_parts = iter(mpoly_parts)
    cols = {"id": np.arange(n, dtype=np.int64), "kind": [], "geom": [], "probe": [], "clip": []}
    truth = {"area": [], "length": [], "hit": [], "relate": [], "nverts": []}
    for kind in kinds:
        cx, cy = rng.uniform(20, WORLD - 20, 2)
        r = rng.uniform(2.0, 8.0)
        if kind == "poly":
            geom = ("poly", star_polygon(rng, cx, cy, r, next(shells), next(holes)))
        elif kind == "mpoly":
            parts = [star_polygon(rng, cx + 2.5 * r * i, cy + (i % 2) * 0.5 * r, r,
                                  next(shells), i % 2) for i in range(next(mpoly_parts))]
            geom = ("mpoly", parts)
        elif kind == "rect":
            w, h = rng.uniform(1.0, 10.0, 2)
            geom = ("rect", [G.rect_ring(cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2)])
        elif kind == "line":
            m = next(line_verts)
            heading = rng.uniform(0, 2 * np.pi, m - 1)
            steps = rng.uniform(0.5, 3.0, m - 1)[:, None] * np.column_stack(
                [np.cos(heading), np.sin(heading)])
            geom = ("line", np.vstack([[cx, cy], [cx, cy] + np.cumsum(steps, axis=0)]))
        else:
            geom = ("point", np.array([cx, cy]))
        g = _decoded(geom)
        x0, y0, x1, y1 = G.bounds(g)
        pad = 0.05 * max(x1 - x0, y1 - y0, 1.0)
        if kind == "line" and rng.random() < 0.5:
            v = geom[1][int(rng.integers(1, len(geom[1]) - 1))]
            px, py, hit = float(v[0]), float(v[1]), True
        elif kind == "point" and rng.random() < 0.5:
            px, py, hit = float(cx), float(cy), True
        else:
            px, py = rng.uniform(x0 - pad, x1 + pad), rng.uniform(y0 - pad, y1 + pad)
            hit = bool(G.points_in_geometry(np.array([px]), np.array([py]), g)[0])
        half = r * rng.uniform(0.3, 1.0)
        ccx, ccy = cx + rng.uniform(-r, r), cy + rng.uniform(-r, r)
        cols["kind"].append(str(kind))
        cols["geom"].append(_encode(geom))
        cols["probe"].append(G.wkb_point(px, py))
        cols["clip"].append(G.wkb_polygon([G.rect_ring(ccx - half, ccy - half, ccx + half, ccy + half)]))
        truth["area"].append(G.area(g))
        truth["length"].append(G.length(g))
        truth["hit"].append(hit)
        truth["relate"].append(_relate_point(str(kind), hit))
        truth["nverts"].append(G.vertex_count(g))
    return cols, truth


def _decoded(geom):
    kind, p = geom
    return {"poly": (G.POLY, p), "rect": (G.POLY, p), "mpoly": (G.MPOLY, p),
            "line": (G.LINE, p), "point": (G.POINT, p)}[kind]


def _encode(geom) -> bytes:
    kind, p = geom
    if kind in ("poly", "rect"):
        return G.wkb_polygon(p)
    if kind == "mpoly":
        return G.wkb_multipolygon(p)
    if kind == "line":
        return G.wkb_line(p)
    return G.wkb_point(*p)


def _lattice_rects(rng, n, span, wmin, wmax, core=None) -> np.ndarray:
    w = rng.integers(wmin, wmax + 1, (n, 2))
    lo = rng.integers(0, span - wmax + 1, (n, 2))
    if core is not None:   # every rect covers the core cell, so the intersection is non-empty
        lo = np.minimum(lo, core[0])
        w = np.maximum(w, core[1] - lo)
    return np.column_stack([lo, lo + w]).astype(np.int64)


def gen_groups(rng, sz) -> tuple[dict, dict]:
    tables, truth = {}, {}
    # many small lattice-rect groups: st_union_all's slab lane
    rows, union, inter = [], [], []
    group_rows = _shuffled(rng, [4 + g % 13 for g in range(sz["g_rect_groups"])])
    for g, n in enumerate(group_rows):
        core = (np.array([18, 18]), np.array([22, 22])) if g % 2 == 0 else None
        r = _lattice_rects(rng, n, 40, 2, 12, core)
        r = r + np.array([(g % 40) * 100, (g // 40) * 100] * 2)
        rows += [(g, G.wkb_polygon([G.rect_ring(*map(float, q))])) for q in r]
        union.append(G.lattice_union_area(r))
        ix = max(0, r[:, 2].min() - r[:, 0].max()) * max(0, r[:, 3].min() - r[:, 1].max())
        inter.append(float(ix))
    tables["g_rects"] = rows
    truth["g_rects"] = {"union_area": union, "inter_area": inter}
    # small groups of overlapping general polygons: the overlay union
    rows, amax, asum, box = [], [], [], []
    for g in range(sz["g_poly_groups"]):
        cx, cy = 60 + (g % 12) * 80, 60 + (g // 12) * 80
        polys = [star_polygon(rng, cx + rng.normal(0, 6), cy + rng.normal(0, 6),
                              rng.uniform(4, 10), POLY_GROUP_VERTICES, 0)
                 for _ in range(POLY_GROUP_ROWS)]
        rows += [(g, G.wkb_polygon(p)) for p in polys]
        areas = [G.polygon_area(p) for p in polys]
        v = np.concatenate([p[0] for p in polys])
        amax.append(max(areas))
        asum.append(sum(areas))
        box.append([float(v[:, 0].min()), float(v[:, 1].min()),
                    float(v[:, 0].max()), float(v[:, 1].max())])
    tables["g_polys"] = rows
    truth["g_polys"] = {"area_max": amax, "area_sum": asum, "bbox": box}
    # a few hot groups: large enough for union_all_grouped to pick two-phase
    rows, union = [], []
    for g in range(sz["g_hot_groups"]):
        r = _lattice_rects(rng, sz["g_hot_rows"], 200, 1, 15) + g * 1000
        rows += [(g, G.wkb_polygon([G.rect_ring(*map(float, q))])) for q in r]
        union.append(G.lattice_union_area(r))
    tables["g_hot"] = rows
    truth["g_hot"] = {"union_area": union}
    return tables, truth


def gen_join(rng, sz) -> tuple[dict, dict, dict]:
    cell = WORLD / ZONES
    # polygons confined to one zone cell each, so a zone equi-join loses no pair
    polys, gz, gb = [], [], []
    for _ in range(sz["polys"]):
        zx, zy = rng.integers(0, ZONES, 2)
        r = rng.uniform(5, 20)
        cx = rng.uniform(zx * cell + r, (zx + 1) * cell - r)
        cy = rng.uniform(zy * cell + r, (zy + 1) * cell - r)
        p = star_polygon(rng, cx, cy, r, int(rng.integers(8, 41)), int(rng.choice(3, p=[.6, .3, .1])))
        polys.append(p)
        gz.append(int(zy * ZONES + zx))
        gb.append([p[0][:, 0].min(), p[0][:, 1].min(), p[0][:, 0].max(), p[0][:, 1].max()])
    gb = np.array(gb)
    # skewed point density: gaussian clusters over a uniform floor
    n = sz["points"]
    n_cl = int(n * 0.6)
    centers = rng.uniform(100, WORLD - 100, (6, 2))
    sig = rng.uniform(20, 60, 6)
    which = rng.integers(0, 6, n_cl)
    pts = np.vstack([centers[which] + rng.normal(0, 1, (n_cl, 2)) * sig[which, None],
                     rng.uniform(0, WORLD, (n - n_cl, 2))])
    pts = np.clip(pts, 0.0, np.nextafter(WORLD, 0))[rng.permutation(n)]
    pz = (np.floor(pts[:, 1] / cell) * ZONES + np.floor(pts[:, 0] / cell)).astype(np.int64)
    # brute-force pairs: bbox candidates, then exact even-odd test
    order = np.argsort(pts[:, 0])
    xs = pts[order, 0]
    pairs_p, pairs_g, cand = [], [], 0
    for gid, (p, b) in enumerate(zip(polys, gb)):
        lo, hi = np.searchsorted(xs, b[0], "left"), np.searchsorted(xs, b[2], "right")
        idx = order[lo:hi]
        idx = idx[(pts[idx, 1] >= b[1]) & (pts[idx, 1] <= b[3])]
        cand += len(idx)
        hit = idx[G.points_in_polygon(pts[idx, 0], pts[idx, 1], p)]
        pairs_p.append(hit)
        pairs_g.append(np.full(len(hit), gid))
    pp = np.concatenate(pairs_p).astype(object)
    pg = np.concatenate(pairs_g).astype(object)
    truth = {"pairs": {"count": len(pp), "sum_pid": int(pp.sum()), "sum_gid": int(pg.sum()),
                       "sum_prod": int((pp * pg).sum())}}
    # nearest polygon distance for the first nn_points points
    segs = [G.segments((G.POLY, p)) for p in polys]
    nn = []
    for i in range(sz["nn_points"]):
        px, py = pts[i]
        bd = np.hypot(np.maximum(0, np.maximum(gb[:, 0] - px, px - gb[:, 2])),
                      np.maximum(0, np.maximum(gb[:, 1] - py, py - gb[:, 3])))
        best = np.inf
        for gid in np.argsort(bd, kind="stable"):
            if bd[gid] > best:
                break
            inside = G.points_in_polygon(np.array([px]), np.array([py]), polys[gid])[0]
            best = min(best, 0.0 if inside else G.point_segments_distance(px, py, segs[gid]))
        nn.append(best)
    truth["nearest"] = {"count": sz["nn_points"], "sum_dist": float(np.sum(nn)),
                        "dist": [float(d) for d in nn]}
    tables = {
        "points": {"pid": np.arange(n, dtype=np.int64), "pzone": pz,
                   "pt": [G.wkb_point(float(x), float(y)) for x, y in pts]},
        "polys": {"gid": np.arange(len(polys), dtype=np.int64), "gzone": np.array(gz, dtype=np.int64),
                  "poly": [G.wkb_polygon(p) for p in polys]},
    }
    props = {"bbox_candidates": int(cand), "matches": len(pp),
             "match_per_candidate": len(pp) / max(cand, 1),
             "points_in_densest_zone_frac": float(np.bincount(pz).max() / n)}
    return tables, truth, props


def _summary(values) -> dict:
    v = np.asarray(values, dtype=float)
    return {"n": int(len(v)), "mean": float(v.mean()), "p50": float(np.median(v)),
            "p90": float(np.percentile(v, 90)), "max": float(v.max())}


PARTS = ("mixed", "groups", "join")


def _write(out: str, name: str, cols: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({k: (pa.array(v, pa.binary()) if k in BINARY else v)
                             for k, v in cols.items()}),
                   os.path.join(out, f"{name}.parquet"))


BINARY = ("geom", "probe", "clip", "pt", "poly")


def _lane_frac(out: str, table: str, col: str) -> float:
    """Share of a table's rows that the library's batch parsers accept."""
    import pyarrow.parquet as pq

    from geo_sample import lane_accepts

    arr = pq.read_table(os.path.join(out, f"{table}.parquet")).column(col).combine_chunks()
    return lane_accepts(arr) / len(arr)


def generate(seed: int, out: str, scale: float = 1.0, parts=PARTS) -> None:
    """Write the tables of ``parts`` under ``out``, each part with its
    ``<part>.truth.json`` and ``<part>.props.json``. A part's content
    depends only on the seed and scale, never on which other parts are
    made."""
    os.makedirs(out, exist_ok=True)
    sz = sizes(scale)
    rngs = dict(zip(PARTS, (np.random.default_rng(s)
                            for s in np.random.SeedSequence(seed).spawn(len(PARTS)))))
    for part in parts:
        if os.path.exists(os.path.join(out, f"{part}.DONE")):
            continue
        rng = rngs[part]
        if part == "mixed":
            cols, truth = gen_mixed(rng, sz["mixed"])
            _write(out, "mixed", cols)
            kinds = np.array(cols["kind"])
            props = {"rows": {"mixed": len(cols["geom"])},
                     "type_mix": {k: float((kinds == k).mean()) for k, _ in MIX},
                     "vertices": _summary(truth["nverts"]),
                     "probe_hit_frac": float(np.mean(truth["hit"])),
                     "batch_lane_frac": {"mixed": _lane_frac(out, "mixed", "geom")}}
            truth = {"mixed": truth}
        elif part == "groups":
            tables, truth = gen_groups(rng, sz)
            props = {"rows": {}, "hot_group_threshold": HOT_GROUP_THRESHOLD,
                     "batch_lane_frac": {}}
            for name, rows in tables.items():
                _write(out, name, {"id": np.arange(len(rows), dtype=np.int64),
                                   "grp": np.array([g for g, _ in rows], dtype=np.int64),
                                   "geom": [b for _, b in rows]})
                props["rows"][name] = len(rows)
                props[f"{name}_group_rows"] = _summary(np.bincount([g for g, _ in rows]))
                props["batch_lane_frac"][name] = _lane_frac(out, name, "geom")
        else:
            tables, truth, props = gen_join(rng, sz)
            for name, cols in tables.items():
                _write(out, name, cols)
            props["rows"] = {"points": len(tables["points"]["pt"]),
                             "polys": len(tables["polys"]["poly"]),
                             "nn_points": sz["nn_points"]}
            props["batch_lane_frac"] = {"points": _lane_frac(out, "points", "pt"),
                                        "polys": _lane_frac(out, "polys", "poly")}
        props.update(seed=seed, scale=scale)
        with open(os.path.join(out, f"{part}.truth.json"), "w") as f:
            json.dump(truth, f)
        with open(os.path.join(out, f"{part}.props.json"), "w") as f:
            json.dump(props, f, indent=1)
        with open(os.path.join(out, f"{part}.DONE"), "w") as f:
            f.write("ok\n")


def load(out: str, parts) -> tuple[dict, dict]:
    """``(truth, props)`` merged over ``parts``; ``props["rows"]`` holds
    every table's row count."""
    truth, props = {}, {"rows": {}}
    for part in parts:
        with open(os.path.join(out, f"{part}.truth.json")) as f:
            truth.update(json.load(f))
        with open(os.path.join(out, f"{part}.props.json")) as f:
            p = json.load(f)
        props["rows"].update(p.pop("rows"))
        props[part] = p
    return truth, props


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args(argv)
    generate(a.seed, a.out, a.scale)


if __name__ == "__main__":
    main()
