"""The workloads: their cached inputs, their queries, and the checks that
decide whether each query execution returned the right answer.

Every check is made without the library: closed forms from ``npgeom``
against the generator's expected answers, and where no closed form exists
(the overlay union of general polygons) bounds, plus a digest of the
validated result that later executions must reproduce.

Each query separates ``build`` (driver-side plan construction, including
any probe jobs an operator runs) from ``execute`` (the action), so the
two can be timed and traced apart. Every call to ``build`` makes fresh
DataFrames from the cached inputs, so no execution reuses the shuffle
stages of an earlier one.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import npgeom as G  # noqa: E402

RTOL = 1e-9
# Areas are shoelace sums over coordinates up to 1e3 from the origin, so
# two correct implementations that sum in different orders or frames can
# differ by a few parts in 1e9 for areas of a few square units (measured up
# to 1.2e-9 against the library's st_area). Lengths are sums of positive
# terms and keep RTOL.
AREA_RTOL = 1e-7


def close(a: float, b: float, rtol: float = RTOL, atol: float = 1e-9) -> bool:
    return abs(a - b) <= atol + rtol * abs(b)


class Query:
    """One query of a workload. ``geoms`` is the number of input geometry
    values the query reads, for ``geoms_per_s``."""

    name = ""

    def __init__(self, ctx, geoms: int):
        self.ctx = ctx
        self.geoms = geoms
        self.reference = None   # digest of a validated execution

    def build(self):
        raise NotImplementedError

    def execute(self, df):
        return df.toArrow()

    def check(self, result) -> list[str]:
        """Errors for one execution's result; empty when it is right."""
        raise NotImplementedError


class Ctx:
    """What a workload's queries need: the cached input DataFrames, the
    expected answers, the input directory and the library module."""

    def __init__(self, tables: dict, truth: dict, inputs: str):
        import polars_st_spark as st

        self.tables = tables
        self.truth = truth
        self.inputs = inputs
        self.st = st

    def raw(self, table: str):
        """The input table as the generator wrote it, read without Spark."""
        import pyarrow.parquet as pq

        return pq.read_table(os.path.join(self.inputs, f"{table}.parquet"))


# --------------------------------------------------------------------------
# rowwise_measure: scalars per row, compared with the closed forms
# --------------------------------------------------------------------------

class Measure(Query):
    name = "measure"

    def build(self):
        st = self.ctx.st
        return self.ctx.tables["mixed"].select(
            "id", st.st_area("geom").alias("area"), st.st_length("geom").alias("length"),
            st.st_intersects("geom", "probe").alias("hit"),
            st.st_relate("geom", "probe").alias("relate"))

    def check(self, result):
        t = self.ctx.truth["mixed"]
        tbl = result.sort_by("id")
        if tbl.num_rows != len(t["area"]):
            return [f"{tbl.num_rows} rows, expected {len(t['area'])}"]
        errs = []
        for col, rtol in (("area", AREA_RTOL), ("length", RTOL)):
            got = tbl.column(col).to_numpy(zero_copy_only=False)
            want = np.asarray(t[col])
            bad = ~(np.abs(got - want) <= 1e-9 + rtol * np.abs(want))
            if bad.any():
                i = int(np.argmax(bad))
                errs.append(f"{col}: {int(bad.sum())} rows wrong, id {i}: {got[i]!r} != {want[i]!r}")
        for col in ("hit", "relate"):
            got = tbl.column(col).to_pylist()
            bad = [i for i, (a, b) in enumerate(zip(got, t[col])) if a != b]
            if bad:
                i = bad[0]
                errs.append(f"{col}: {len(bad)} rows wrong, id {i}: {got[i]!r} != {t[col][i]!r}")
        return errs


# --------------------------------------------------------------------------
# rowwise_construct: one projection builds five EWKB columns, which go to
# the noop sink. An observation on the way out gives per-column non-null
# counts and byte totals and an xor of per-row hashes; they must match a
# validated collect of the same query.
# --------------------------------------------------------------------------

SAMPLE_EVERY = 4   # closed-form validation looks at every 4th row
# st_buffer runs on the point and rect rows only: the library's general
# buffer takes tens of milliseconds per ragged polygon or line on a 4-core
# host, which would make one rep take minutes.
BUFFERED_KINDS = ("point", "rect")
# Row-paired st_intersection skips the lines: for about 1% of random-walk
# lines the library's line x rect intersection returns a length that differs
# from the exact clipped length in the third decimal (a defect, not rounding).
INTERSECTED_KINDS = ("point", "rect", "poly", "mpoly")
ONLY = {"buffer": BUFFERED_KINDS, "intersection": INTERSECTED_KINDS}


def _buffer_check(kind, g, out, clip):
    d, a = gen.BUFFER_D, G.area(out)
    if kind == "point":
        n = 32   # quad_segs=8 segments per quarter circle
        want = 0.5 * n * d * d * math.sin(2 * math.pi / n)
        return None if close(a, want, AREA_RTOL) else f"area {a} != {want}"
    lo, hi = G.area(g), G.area(g) + G.length(g) * d + math.pi * d * d
    ok = lo * (1 - AREA_RTOL) <= a <= hi * (1 + AREA_RTOL)
    return None if ok else f"area {a} outside [{lo}, {hi}]"


def _simplify_check(kind, g, out, clip):
    vin, vout = G.vertices(g), G.vertices(out)
    if len(vout) > len(vin):
        return f"{len(vout)} vertices out of {len(vin)}"
    known = {tuple(v) for v in vin}
    return "output vertex not in the input" if any(tuple(v) not in known for v in vout) else None


def _hull_check(kind, g, out, clip):
    a, want = G.area(out), G.hull_area(G.vertices(g))
    return None if close(a, want, AREA_RTOL) else f"hull area {a} != {want}"


def _clip_check(kind, g, out, box) -> str | None:
    if kind == "point":
        p = G.points_of(g)[0]
        inside = box[0] <= p[0] <= box[2] and box[1] <= p[1] <= box[3]
        got = G.points_of(out)
        return None if (len(got) == 1) == inside else f"point kept={len(got)} inside={inside}"
    if kind == "line":
        got, want = G.length(out), G.clipped_length(g, box)
        return None if close(got, want, AREA_RTOL) else f"clipped length {got} != {want}"
    got, want = G.area(out), G.clipped_area(g, box)
    return None if close(got, want, AREA_RTOL) else f"clipped area {got} != {want}"


ROW_CHECKS = {
    "buffer": _buffer_check,
    "simplify": _simplify_check,
    "convex_hull": _hull_check,
    "clip_by_rect": lambda kind, g, out, clip: _clip_check(kind, g, out, gen.CLIP_BOX),
    "intersection": lambda kind, g, out, clip: _clip_check(kind, g, out, G.bounds(clip)),
}


class Construct(Query):
    name = "construct"

    def build(self):
        from pyspark.sql import functions as F

        st = self.ctx.st
        def only(op):
            return F.when(F.col("kind").isin(*ONLY[op]), F.col("geom"))

        return self.ctx.tables["mixed"].select(
            "id",
            st.st_buffer(only("buffer"), gen.BUFFER_D).alias("buffer"),
            st.st_simplify("geom", gen.SIMPLIFY_TOL).alias("simplify"),
            st.st_convex_hull("geom").alias("convex_hull"),
            st.st_clip_by_rect("geom", *gen.CLIP_BOX).alias("clip_by_rect"),
            st.st_intersection(only("intersection"), "clip").alias("intersection"))

    @staticmethod
    def _digest_exprs():
        from pyspark.sql import functions as F

        out = [F.count(F.lit(1)).alias("rows"),
               F.bit_xor(F.xxhash64("id", *ROW_CHECKS)).alias("hash")]
        for c in ROW_CHECKS:
            out += [F.count(c).alias(f"{c}.nonnull"), F.sum(F.length(c)).alias(f"{c}.bytes")]
        return out

    def execute(self, df):
        from pyspark.sql import Observation

        obs = Observation()
        df.observe(obs, *self._digest_exprs()).write.format("noop").mode("overwrite").save()
        return dict(obs.get)

    def check(self, result):
        if self.reference is None:
            errs = self.validate(result)
            if errs:
                return errs
            self.reference = result
        return [] if result == self.reference else [f"{result} != validated {self.reference}"]

    def validate(self, observed: dict) -> list[str]:
        """Collect the query's output once; its digest must equal the
        noop-sink observation, and a sample of rows must pass the closed-form
        checks."""
        from pyspark.sql import functions as F

        tbl = (self.build().withColumn("hash", F.xxhash64("id", *ROW_CHECKS))
               .toArrow().sort_by("id"))
        hashes = tbl.column("hash").to_numpy(zero_copy_only=False)
        cols = {c: tbl.column(c).to_pylist() for c in ROW_CHECKS}
        digest = {"rows": tbl.num_rows,
                  "hash": int(np.bitwise_xor.reduce(hashes)) if len(hashes) else 0}
        for c, vals in cols.items():
            digest[f"{c}.nonnull"] = sum(v is not None for v in vals)
            digest[f"{c}.bytes"] = sum(len(v) for v in vals if v is not None)
        if digest != observed:
            return [f"noop-sink observation {observed} != collected digest {digest}"]
        raw = self.ctx.raw("mixed").sort_by("id")
        kinds = raw.column("kind").to_pylist()
        geoms = raw.column("geom").to_pylist()
        clips = raw.column("clip").to_pylist()
        errs = []
        for i in range(0, tbl.num_rows, SAMPLE_EVERY):
            g, clip = G.decode(geoms[i]), G.decode(clips[i])
            for c, row_check in ROW_CHECKS.items():
                out = cols[c][i]
                if c in ONLY and kinds[i] not in ONLY[c]:
                    e = None if out is None else f"{c} of a row it should skip"
                else:
                    e = "null output" if out is None else row_check(kinds[i], g, G.decode(out), clip)
                if e:
                    errs.append(f"{c} id {i} ({kinds[i]}): {e}")
            if len(errs) >= 5:
                break
        return errs


# --------------------------------------------------------------------------
# grouped_overlay: one action over the union of four grouped results.
# Rect groups have exact lattice areas; the overlay union of general
# polygons is held to bounds (area between its largest member and the sum
# of members, bounds equal to the members' bounds). Later executions must
# return the validated bytes.
# --------------------------------------------------------------------------

# The plan union_all_grouped's auto choice must land on, per union part.
# Small rect groups and small general-polygon groups share one call; the
# polygon groups' keys are offset by POLY_GRP so both keep their own groups.
EXPECTED_PLAN = {"small_union": "single", "hot_union": "two_phase"}
POLY_GRP = 1_000_000


def _exact_areas(geoms, want, what) -> list[str]:
    if len(geoms) != len(want):
        return [f"{len(geoms)} groups, expected {len(want)}"]
    bad = [(i, G.area(g), w) for i, (g, w) in enumerate(zip(geoms, want))
           if not close(G.area(g), w, 1e-9)]
    return [f"{what}: {len(bad)} groups wrong, first {bad[0]}"] if bad else []


def _poly_union_bounds(geoms, t) -> list[str]:
    if len(geoms) != len(t["area_max"]):
        return [f"{len(geoms)} groups, expected {len(t['area_max'])}"]
    for i, g in enumerate(geoms):
        a = G.area(g)
        if not t["area_max"][i] * (1 - 1e-9) <= a <= t["area_sum"][i] * (1 + 1e-9):
            return [f"group {i}: union area {a} outside [max, sum] of its members"]
        b = G.bounds(g)
        if b is None or not all(close(x, y) for x, y in zip(b, t["bbox"][i])):
            return [f"group {i}: union bounds {b} != member bounds {t['bbox'][i]}"]
    return []


class Overlay(Query):
    name = "overlay"

    def build(self):
        from functools import reduce

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from polars_st_spark.operators import grouped

        t = self.ctx.tables
        small = t["g_rects"].unionByName(
            t["g_polys"].withColumn("grp", F.col("grp") + POLY_GRP))
        self.chosen = {}
        parts = [t["g_rects"].groupBy("grp").agg(
            self.ctx.st.st_intersection_all("geom").alias("out"))
            .select(F.lit("rects_intersection").alias("part"), "grp", "out")]
        for part, df in (("small_union", small), ("hot_union", t["g_hot"])):
            u = grouped.union_all_grouped(df, ["grp"], "geom", result_col="out",
                                          hot_group_threshold=gen.HOT_GROUP_THRESHOLD)
            self.chosen[part] = u._chosen_strategy
            parts.append(u.select(F.lit(part).alias("part"), "grp", "out"))
        return reduce(DataFrame.unionByName, parts)

    def check(self, result):
        errs = [f"union_all_grouped chose {self.chosen[p]} for {p}, expected {want}"
                for p, want in EXPECTED_PLAN.items() if self.chosen[p] != want]
        if errs:
            return errs
        tbl = result.sort_by([("part", "ascending"), ("grp", "ascending")])
        h = hashlib.sha256()
        for p, g, b in zip(*(tbl.column(c).to_pylist() for c in ("part", "grp", "out"))):
            h.update(f"{p}/{g}/".encode() + (b or b"<null>"))
        digest = h.hexdigest()
        if self.reference is None:
            errs = self.validate(tbl)
            if errs:
                return errs
            self.reference = digest
        return [] if digest == self.reference else ["result differs from the validated execution"]

    def validate(self, tbl) -> list[str]:
        geoms: dict = {}
        for p, g, b in zip(*(tbl.column(c).to_pylist() for c in ("part", "grp", "out"))):
            if p == "small_union":
                p = "polys_union" if g >= POLY_GRP else "rects_union"
            geoms.setdefault(p, []).append(G.decode(b))
        t = self.ctx.truth
        return (_exact_areas(geoms.get("rects_union", []), t["g_rects"]["union_area"],
                             "rect union area")
                + _exact_areas(geoms.get("hot_union", []), t["g_hot"]["union_area"],
                               "hot union area")
                + _exact_areas(geoms.get("rects_intersection", []), t["g_rects"]["inter_area"],
                               "rect intersection area")
                + _poly_union_bounds(geoms.get("polys_union", []), t["g_polys"]))


# --------------------------------------------------------------------------
# spatial_join: one action over four joins, each reduced in Spark to
# (count, sum pid, sum gid, sum pid*gid) and compared exactly with the
# brute-force pair set; the nearest join to its count and distance sum.
# --------------------------------------------------------------------------

class Joins(Query):
    name = "joins"

    def build(self):
        from functools import reduce

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from polars_st_spark.operators import nearest, predjoin, sjoin

        t = self.ctx.tables
        pts, polys = t["points"], t["polys"]

        def digest(part, df, dist=None):
            return df.agg(F.lit(part).alias("part"), F.count(F.lit(1)).alias("count"),
                          F.sum("pid").alias("sum_pid"), F.sum("gid").alias("sum_gid"),
                          F.sum(F.col("pid") * F.col("gid")).alias("sum_prod"),
                          (F.sum(dist) if dist else F.lit(None).cast("double")).alias("sum_dist"))

        n_nn = self.ctx.truth["nearest"]["count"]
        parts = [
            digest("sjoin_auto", sjoin.st_sjoin(pts, polys, "intersects",
                                                left_on="pt", right_on="poly")),
            digest("sjoin_grid", sjoin.st_sjoin(pts, polys, "intersects", left_on="pt",
                                                right_on="poly", strategy="grid")),
            digest("filter_pairs", predjoin.filter_pairs(
                pts, polys, "intersects", on=F.col("pzone") == F.col("gzone"),
                lcol="pt", rcol="poly")),
            digest("nearest", nearest.st_sjoin_nearest(
                pts.where(F.col("pid") < n_nn), polys, k=1, left_on="pt", right_on="poly"),
                "distance"),
        ]
        return reduce(DataFrame.unionByName, parts)

    def check(self, result):
        rows = {r["part"]: r for r in result.to_pylist()}
        want, errs = self.ctx.truth["pairs"], []
        for part in ("sjoin_auto", "sjoin_grid", "filter_pairs"):
            got = {k: rows[part][k] for k in want}
            if got != want:
                errs.append(f"{part}: {got} != brute force {want}")
        nn, got = self.ctx.truth["nearest"], rows["nearest"]
        if got["count"] != nn["count"] or got["sum_pid"] != nn["count"] * (nn["count"] - 1) // 2:
            errs.append(f"nearest: {got['count']} rows, expected one per point of {nn['count']}")
        elif not close(got["sum_dist"], nn["sum_dist"]):
            errs.append(f"nearest: distance sum {got['sum_dist']} != brute force {nn['sum_dist']}")
        return errs


# --------------------------------------------------------------------------

PART_OF = {"mixed": "mixed", "g_rects": "groups", "g_polys": "groups", "g_hot": "groups",
           "points": "join", "polys": "join"}

WORKLOADS = {
    # cost: EWKB decode, kernel compute and the Python UDF boundary; scalar
    # results and no real shuffle
    "rowwise_measure": (("mixed",), lambda c, n: [Measure(c, 2 * n["mixed"])]),
    # the same layers plus EWKB encode and result bytes crossing back to the JVM
    "rowwise_construct": (("mixed",), lambda c, n: [Construct(c, 2 * n["mixed"])]),
    # both rowwise queries in one rep; the rowwise workload BENCHMARK.json lists
    "rowwise": (("mixed",), lambda c, n: [Measure(c, 2 * n["mixed"]),
                                          Construct(c, 2 * n["mixed"])]),
    # cost: the EWKB Exchange, the grouped-aggregate boundary and
    # geo.setops/overlay; union_all_grouped's auto choice lands on both plans
    "grouped_overlay": (("g_rects", "g_polys", "g_hot"), lambda c, n: [
        Overlay(c, 2 * n["g_rects"] + n["g_polys"] + n["g_hot"])]),
    # the only workload through operators.sjoin/nearest and the geo.index STRtree
    "spatial_join": (("points", "polys"), lambda c, n: [
        Joins(c, 3 * (n["points"] + n["polys"]) + n["nn_points"] + n["polys"])]),
}
