"""polars-st-spark benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload rowwise_measure --seed 1 --seconds 10 --trace 0

Run it from the repository root: the library is imported from there, and
every file the run writes (inputs, Spark scratch, traces) goes under
``.perfbench/`` there. Spark runs at ``local[N]``, N the usable CPUs, with
N shuffle partitions.

A run generates (or reuses) the seeded inputs, sets up once (session
start, which launches the JVM; inputs loaded and cached; one untimed warm
rep), then repeats the workload's query set until ``--seconds`` have
passed. Every query execution is checked. The last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the per-layer
metrics, from a run whose reps alternate untraced and traced. Spans go to
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

# public functions whose calls the traced reps time, by layer
TRACED = (
    ("functions", "polars_st_spark",
     ("st_area", "st_length", "st_intersects", "st_relate", "st_buffer", "st_simplify",
      "st_convex_hull", "st_clip_by_rect", "st_intersection", "st_intersection_all")),
    ("operators", "polars_st_spark.operators.grouped", ("union_all_grouped",)),
    ("operators", "polars_st_spark.operators.sjoin", ("st_sjoin",)),
    ("operators", "polars_st_spark.operators.predjoin", ("filter_pairs",)),
    ("operators", "polars_st_spark.operators.nearest", ("st_sjoin_nearest",)),
)

END_TO_END = (("setup_s", "s"), ("wall_s_p50", "s"), ("wall_s_tail", "s"),
              ("geoms_per_s", "1/s"), ("peak_rss_mb", "MB"))


def parse_args(argv):
    ap = argparse.ArgumentParser(description="polars-st-spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor")
    return ap.parse_args(argv)


def spark_conf(n: int):
    from pyspark import SparkConf

    return SparkConf().setAll([
        ("spark.master", f"local[{n}]"),
        ("spark.app.name", "polars-st-spark-perfbench"),
        ("spark.sql.shuffle.partitions", str(n)),
        ("spark.default.parallelism", str(n)),
        ("spark.sql.adaptive.enabled", "true"),
        # the heap is fully committed and touched at start, so the JVM's
        # resident size does not depend on when its GC happens to run
        ("spark.driver.memory", "1g"),
        ("spark.ui.enabled", "false"),
        ("spark.ui.showConsoleProgress", "false"),
        ("spark.local.dir", os.path.join(WORK, "spark")),
        ("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse")),
        ("spark.driver.extraJavaOptions", "-Xms1g -XX:+AlwaysPreTouch"),
    ])


def tail(ts: list[float]) -> tuple[float, float]:
    """``(value, percentile)``: the highest order statistic with at least ten
    samples above it. With fewer than eleven samples none has, and the one
    closest to that, the minimum, is returned; the rank never jumps as the
    rep count crosses eleven."""
    s = sorted(ts)
    i = max(len(s) - 11, 0)
    return s[i], 100.0 * (i + 1) / len(s)


class Run:
    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.n = len(os.sched_getaffinity(0))
        self.tables, self.make_queries = workloads.WORKLOADS[args.workload]
        self.inputs = os.path.join(WORK, "inputs", f"seed-{args.seed}-x{args.scale:g}")
        self.tracer = layers.Tracer(self.trace)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.sampler = None
        self.listener = None

    # ------------------------------------------------------------- set-up
    def prepare(self) -> None:
        parts = sorted({workloads.PART_OF[t] for t in self.tables})
        gen.generate(self.args.seed, self.inputs, self.args.scale, parts)
        self.truth, self.props = gen.load(self.inputs, parts)
        for d in ("tmp", "spark", "warehouse"):
            os.makedirs(os.path.join(WORK, d), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
        # also reaches the short-lived JVM spark-submit runs to build its command
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    def setup(self, plan: Counter | None) -> dict:
        """Session start (which launches the JVM), inputs loaded and cached,
        one warm rep. Returns the seconds of each step; the warm rep's
        result checks are left out. One set-up per run: a second
        SparkContext in the same process would leave the library's UDFs
        holding handles on the stopped one."""
        from pyspark.sql import SparkSession

        t0 = time.perf_counter()
        spark = self.spark = SparkSession.builder.config(conf=spark_conf(self.n)).getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.sampler = layers.ProcSampler(spark.sparkContext._gateway.proc.pid).start()
        if plan is not None:
            self.listener = layers.QueryExecutions(spark)
            self.listener.active = True
        tables = {}
        for name in self.tables:
            df = spark.read.parquet(os.path.join(self.inputs, f"{name}.parquet"))
            tables[name] = df.repartition(self.n).cache()
            tables[name].count()
        ctx = workloads.Ctx(tables, self.truth, self.inputs)
        self.queries = self.make_queries(ctx, self.props["rows"])
        t2 = time.perf_counter()
        wall = self.rep("warm")
        if plan is not None:
            for qe in self.listener.drain():
                acc: dict = {}
                layers.walk_plan(qe.executedPlan(), acc)
                plan.update(acc)
            self.listener.active = False
        return {"session": t1 - t0, "load": t2 - t1, "warm_rep": wall}

    # --------------------------------------------------------------- reps
    def rep(self, label: str, plan: Counter | None = None) -> float:
        """One pass over the query set; returns the seconds spent building
        and executing (checks excluded). With ``plan``, each query runs in
        its own job group and its executed plans are walked after it is
        timed."""
        wall = 0.0
        sc = self.spark.sparkContext
        with self.tracer.span("rep", label=label) as rep_span:
            for q in self.queries:
                with self.tracer.span("query", query=q.name) as qspan:
                    group = f"{label}:{q.name}"
                    if plan is not None:
                        sc.setJobGroup(group, q.name)
                    t0 = time.perf_counter()
                    try:
                        with self.tracer.span("build"):
                            df = q.build()
                        with self.tracer.span("execute"):
                            res = q.execute(df)
                        err = None
                    except Exception:  # a failing query is counted; the run goes on
                        res, err = None, traceback.format_exc(limit=4)
                    wall += time.perf_counter() - t0
                    with self.tracer.span("check"):
                        errs = [err] if err else q.check(res)
                    self.attempted += 1
                    if errs:
                        self.failed += 1
                        self.errors.append(f"{label} {q.name}: {errs[0]}")
                    if plan is not None:
                        with self.tracer.span("plan_metrics"):
                            acc: dict = {}
                            for qe in self.listener.drain():
                                layers.walk_plan(qe.executedPlan(), acc)
                            acc.update(layers.job_counts(sc, group))
                            plan.update(acc)
                            qspan["attrs"]["layers"] = acc
                        sc.setLocalProperty("spark.jobGroup.id", None)
        if rep_span is not None:
            rep_span["attrs"]["wall_s"] = wall
        return wall

    def traced_rep(self, label: str, plan: Counter) -> float:
        import importlib

        undo = []
        for layer, mod, names in TRACED:
            undo += layers.wrap_public(self.tracer, importlib.import_module(mod), names, layer)
        self.listener.active = True
        try:
            return self.rep(label, plan)
        finally:
            self.listener.active = False
            layers.unwrap(undo)

    # --------------------------------------------------------------- run
    def execute(self) -> dict:
        self.prepare()
        host = layers.host_witnesses()
        setup_plan = Counter() if self.trace else None
        try:
            with self.tracer.span("run", workload=self.args.workload, seed=self.args.seed):
                with self.tracer.span("setup"):
                    setup = self.setup(setup_plan)
                res = self._measure()
        finally:
            if self.sampler is not None:
                self.sampler.stop()
            self.shutdown()
        res.update(host=host, setup=setup, setup_plan=setup_plan,
                   workers=len(self.sampler.worker_pids))
        return res

    def _measure(self) -> dict:
        self.sampler.reset()
        walls, traced_walls, plan = [], [], Counter()
        gc0 = layers.gc_ms(self.spark)
        deadline = time.perf_counter() + self.args.seconds
        with self.tracer.span("workload", workload=self.args.workload):
            i = 0
            while True:
                if self.trace and i % 2 == 1:
                    traced_walls.append(self.traced_rep(f"rep{i}", plan))
                else:
                    walls.append(self.rep(f"rep{i}"))
                i += 1
                # stop before a rep that would end past the deadline
                typical = statistics.median(walls + traced_walls)
                if time.perf_counter() + typical > deadline and (traced_walls or not self.trace):
                    break
            peak_total, peak_py = self.sampler.peak_total, self.sampler.peak_py
            gc_total = layers.gc_ms(self.spark) - gc0
            geo = None
            if self.trace:
                import geo_sample

                with self.tracer.span("geo"):
                    geo = geo_sample.measure(self.args.workload, self.inputs, self.tracer)
        return {"walls": walls, "traced_walls": traced_walls, "plan": plan, "geo": geo,
                "gc_ms": gc_total, "peak_rss": peak_total, "peak_py_rss": peak_py}

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    # ------------------------------------------------------------ report
    def end_to_end(self, res: dict) -> dict:
        walls = res["walls"]
        p50 = statistics.median(walls)
        t, pct = tail(walls)
        geoms = sum(q.geoms for q in self.queries)
        setup = res["setup"]
        vals = {"setup_s": sum(setup.values()), "wall_s_p50": p50,
                "wall_s_tail": t, "geoms_per_s": geoms / p50,
                "peak_rss_mb": res["peak_rss"] / 2 ** 20}
        notes = {"setup_s": ", ".join(f"{k} {v:.3f} s" for k, v in setup.items()),
                 "wall_s_p50": f"{len(walls)} reps of {len(self.queries)} queries",
                 "wall_s_tail": f"p{pct:.0f} of {len(walls)} reps",
                 "geoms_per_s": f"{geoms} input geometries per rep",
                 "peak_rss_mb": "JVM plus Python workers, RSS sum, timed reps"}
        return {k: (vals[k], u, notes[k]) for k, u in END_TO_END}

    def per_layer(self, res: dict) -> dict:
        p, sp = res["plan"], res["setup_plan"]
        n = max(len(res["traced_walls"]), 1)
        geo = res["geo"]
        untraced = statistics.median(res["walls"])
        traced = statistics.median(res["traced_walls"])
        refine_in = p["refine_in"]
        return {
            "geo.decode_us_per_row": (geo["decode_us_per_row"], "us"),
            "geo.compute_us_per_row": (geo["compute_us_per_row"], "us"),
            "geo.encode_us_per_row": (geo["encode_us_per_row"], "us"),
            "geo.batch_lane_frac": (geo["batch_lane_frac"], "frac"),
            "functions.py_nodes": (p["py_nodes"] / n, "count"),
            "functions.py_total_ms": (p["pythonTotalTime"] / n, "ms"),
            "functions.py_bytes_sent": (p["pythonDataSent"] / n, "B"),
            "functions.py_bytes_received": (p["pythonDataReceived"] / n, "B"),
            "functions.py_rows_received": (p["pythonNumRowsReceived"] / n, "count"),
            "functions.py_boot_ms": (sp["pythonBootTime"], "ms"),
            "functions.py_init_ms": (sp["pythonInitTime"], "ms"),
            "functions.py_workers_spawned": (res["workers"], "count"),
            "functions.py_peak_rss_mb": (res["peak_py_rss"] / 2 ** 20, "MB"),
            "operators.build_ms": (1e3 * self.tracer.total("operators.") / n, "ms"),
            "operators.refine_keep_frac": (p["refine_out"] / refine_in if refine_in else 0.0,
                                           "frac"),
            "spark.exchange_bytes": (p["shuffleBytesWritten"] / n, "B"),
            "spark.exchange_write_ms": (p["shuffleWriteTime"] / n, "ms"),
            "spark.exchange_records": (p["shuffleRecordsWritten"] / n, "count"),
            "spark.shuffle_fetch_wait_ms": (p["fetchWaitTime"] / n, "ms"),
            "spark.pipeline_ms": (p["pipelineTime"] / n, "ms"),
            "spark.jobs": (p["jobs"] / n, "count"),
            "spark.stages": (p["stages"] / n, "count"),
            "spark.tasks": (p["tasks"] / n, "count"),
            "spark.task_failures": (p["task_failures"] / n, "count"),
            "spark.gc_ms": (res["gc_ms"] / (len(res["walls"]) + n), "ms"),
            "host.membw_gbs": (res["host"]["membw_gbs"], "GB/s"),
            "host.fault_us": (res["host"]["fault_us"], "us"),
            "trace.overhead_s": (traced - untraced, "s"),
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "polars_st_spark")):
        print(f"perfbench: no polars_st_spark package next to {HERE}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    run = Run(args)
    res = run.execute()
    e2e = run.end_to_end(res)
    frac = run.failed / max(run.attempted, 1)
    print(f"perfbench workload={args.workload} seed={args.seed} local[{run.n}] "
          f"seconds={args.seconds:g} trace={args.trace}")
    for name, (v, unit, note) in e2e.items():
        print(f"{name} {v:.6g} {unit}  ({note})")
    print(f"ops_failed_frac {frac:.6g} frac  ({run.failed} of {run.attempted} executions)")
    for e in run.errors[:10]:
        print(f"  FAILED {e.strip()}", file=sys.stderr)
    if args.trace:
        metrics = run.per_layer(res)
        for name, (v, unit) in metrics.items():
            print(f"{name} {v:.6g} {unit}")
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        run.tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                               "props": run.props, "metrics": metrics,
                               "end_to_end": {k: v[0] for k, v in e2e.items()},
                               "traced_walls": res["traced_walls"], "walls": res["walls"],
                               "errors": run.errors})
        print(f"trace written to {os.path.relpath(path, ROOT)}")
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
