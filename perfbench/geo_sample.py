"""Per-row cost of the ``geo`` layer, timed in the Spark driver process on
sampled Arrow batches of a workload's inputs: EWKB decode, the workload's
kernel compute, EWKB encode, and the share of rows the batch parsers
accept.

Each phase is one span around a loop of calls into ``geo``'s public
functions, so the per-row figure is the span length over the rows.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen

SAMPLE_ROWS = 1024


def _sample(inputs: str, table: str, rows: int = SAMPLE_ROWS):
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(inputs, f"{table}.parquet"))
    step = max(1, t.num_rows // rows)
    return t.take(np.arange(0, t.num_rows, step)[:rows])


def lane_accepts(arr) -> int:
    """Rows of a binary Arrow array that a vectorized batch parser accepts,
    routing each geometry family to its parser as the kernels do."""
    from polars_st_spark.geo import ragged, wkb

    fam = ragged.split_families(arr.to_pylist())
    if fam is None:
        return 0
    ok = 0
    parsers = {"poly": ragged.parse_polygonal_pa, "line": ragged.parse_lineal_pa,
               "mpoint": ragged.parse_multipoints_pa}
    for name, idx in fam.items():
        if not len(idx) or name == "null":
            continue
        part = arr.take(idx)
        if name == "point":
            accepted = wkb.ewkb_to_points(part.to_pylist()) is not None
        else:
            accepted = parsers[name](part) is not None
        ok += len(idx) if accepted else 0
    return ok


class _Phase:
    def __init__(self):
        self.seconds = 0.0
        self.rows = 0


def measure(workload: str, inputs: str, tracer) -> dict:
    from polars_st_spark.geo import algos, predicates, setops, wkb

    dec, comp, enc = _Phase(), _Phase(), _Phase()
    offered = accepted = 0

    def decode(arr):
        nonlocal offered, accepted
        rows = arr.to_pylist()
        offered += len(rows)
        accepted += lane_accepts(arr)
        with tracer.span("geo.decode", rows=len(rows)):
            t0 = time.perf_counter()
            out = [wkb.from_ewkb(b) for b in rows]
            dec.seconds += time.perf_counter() - t0
        dec.rows += len(rows)
        return out

    def timed(phase: _Phase, name: str, rows: int, fn):
        with tracer.span(name, rows=rows):
            t0 = time.perf_counter()
            out = fn()
            phase.seconds += time.perf_counter() - t0
        phase.rows += rows
        return out

    def encode(geoms):
        timed(enc, "geo.encode", len(geoms), lambda: [wkb.to_ewkb(g) for g in geoms])

    if workload in ("rowwise", "rowwise_measure", "rowwise_construct"):
        t = _sample(inputs, "mixed")
        gs = decode(t.column("geom").combine_chunks())
        outs = gs
        if workload != "rowwise_construct":
            ps = decode(t.column("probe").combine_chunks())
            timed(comp, "geo.compute", len(gs), lambda: [
                (algos.area(g), algos.length(g), predicates.intersects(g, p))
                for g, p in zip(gs, ps)])
        if workload != "rowwise_measure":
            x0, y0, x1, y1 = gen.CLIP_BOX
            rows = 0 if workload == "rowwise" else len(gs)   # an input row counts once
            outs = timed(comp, "geo.compute", rows, lambda: [
                o for g in gs for o in (algos.convex_hull(g),
                                        setops.clip_by_rect(g, x0, y0, x1, y1))])
        encode(outs)
    elif workload == "grouped_overlay":
        outs = []
        for table, groups in (("g_rects", 64), ("g_polys", 2), ("g_hot", 1)):
            t = _sample(inputs, table, rows=10 ** 9)
            grp = t.column("grp").to_numpy()
            keep = np.isin(grp, np.unique(grp)[:groups])
            if table == "g_hot":
                keep &= np.cumsum(keep) <= 512
            t = t.filter(keep)
            gs = decode(t.column("geom").combine_chunks())
            grp = t.column("grp").to_numpy()
            members = [[g for g, k in zip(gs, grp) if k == key] for key in np.unique(grp)]
            outs += timed(comp, "geo.compute", len(gs),
                          lambda: [setops.union_all(m) for m in members])
        encode(outs)
    elif workload == "spatial_join":
        pts = _sample(inputs, "points")
        polys = _sample(inputs, "polys", rows=10 ** 9)
        pg = decode(pts.column("pt").combine_chunks())
        zone_polys: dict = {}
        for g, z in zip(decode(polys.column("poly").combine_chunks()),
                        polys.column("gzone").to_pylist()):
            zone_polys.setdefault(z, []).append(g)
        pairs = [(p, q) for p, z in zip(pg, pts.column("pzone").to_pylist())
                 for q in zone_polys.get(z, [])[:4]]
        timed(comp, "geo.compute", len(pairs),
              lambda: [predicates.intersects(p, q) for p, q in pairs])
        encode(pg)
    else:
        raise ValueError(workload)

    def per_row_us(ph: _Phase) -> float:
        return 1e6 * ph.seconds / ph.rows if ph.rows else 0.0

    return {"decode_us_per_row": per_row_us(dec), "compute_us_per_row": per_row_us(comp),
            "encode_us_per_row": per_row_us(enc),
            "batch_lane_frac": accepted / offered if offered else 0.0}
