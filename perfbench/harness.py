"""What every workload shares: environment pinning, the Spark session,
repeated set-up, timed operations with deadlines, answer checks, the
per-layer metrics of a traced run, and the result lines.

A workload module defines ``run(h)``: it sets up through
:meth:`Harness.setup`, times each call into the program with
:meth:`Harness.call`, queues answer checks with :meth:`Harness.check`, and
ends with :func:`finish`, which runs the checks and builds the result.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

import stats
from spans import Tracer, self_times

#: Driver heap for every run, recorded with each result.
DRIVER_MEMORY = "3g"
#: Every JVM of a run compiles with C1 only: in 10-second runs C2 finished
#: the hot Catalyst paths at a different point each time, and one seed's
#: shim p50 ranged 96-139 ms over four runs; with C1 alone it held
#: 119-125 ms. No perf-data file lands in the system temp directory.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:-UsePerfData"
#: Set-ups per run; ``setup_s`` reports their median.
SETUP_REPEATS = 3


class Harness:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.nproc = os.cpu_count() or 1
        work = os.path.join(root, ".perfbench_work")
        self.run_dir = os.path.join(work, f"{args.workload}-seed{args.seed}-{os.getpid()}")
        self.trace_path = os.path.join(
            work, f"trace-{args.workload}-seed{args.seed}.jsonl"
        )
        for sub in ("inputs", "spark-local", "tmp", "shim", "warehouse"):
            os.makedirs(os.path.join(self.run_dir, sub), exist_ok=True)
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.session_s = None
        self.setup_times: list[float] = []
        #: class -> [(seconds, traced round?)] for operations that returned
        self.lat: dict[str, list[tuple[float, bool]]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, int] = {}
        self._checks: list = []
        self.notes: dict = {}

    def path(self, *parts) -> str:
        return os.path.join(self.run_dir, *parts)

    # ------------------------------------------------------ environment
    def pin_environment(self, shim: bool) -> None:
        """Everything the session inherits: UTC, the repo root on the
        Python workers' path, scratch space inside the run directory, and
        (for ``shim``) the Catalyst extension on the first session. Builds
        the shim jar here, before any set-up timer starts."""
        os.environ["TZ"] = "UTC"
        time.tzset()
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.path('tmp')} {JVM_OPTIONS}"
        )
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        from datafusion_uwheel_spark import jvmshim

        jar = jvmshim.build_shim_jar()
        confs = {"spark.sql.warehouse.dir": self.path("warehouse")}
        if shim:
            confs.update(jvmshim.shim_builder_confs(jar))
            confs.pop("spark.driver.extraClassPath")  # get_spark sets it
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {k}={v}" for k, v in confs.items()
        ) + " pyspark-shell"

    def start_session(self):
        from datafusion_uwheel_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
        )
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark)
        return self.spark

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit; drop the run directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            try:
                gateway.shutdown()
            except Exception:
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
        shutil.rmtree(self.run_dir, ignore_errors=True)

    # ----------------------------------------------------------- set-up
    def setup(self, build, warm=None):
        """Run ``build()`` :data:`SETUP_REPEATS` times, timing each, and
        return the last result (earlier ones are released first).
        ``warm(first)`` runs untimed on the first result: the JVM compiles
        the measured paths there, on an engine the measurement never uses."""
        out = None
        for i in range(SETUP_REPEATS):
            if out is not None:
                self.spark.catalog.clearCache()
            t0 = time.perf_counter()
            out = build()
            self.setup_times.append(time.perf_counter() - t0)
            if i == 0 and warm is not None:
                t0 = time.perf_counter()
                warm(out)
                self.notes["warmup_s"] = time.perf_counter() - t0
        return out

    @contextmanager
    def phase(self, name: str):
        """A traced set-up phase: its own job group and ``op.setup.<name>``
        span (nothing in an untraced run)."""
        op = self.tracer.begin_op(f"setup.{name}")
        try:
            yield
        finally:
            self.tracer.end_op(op)

    # ------------------------------------------------------- operations
    def call(self, cls: str, fn, deadline: float):
        """Time one operation. Returns ``(ok, value)``; a raise or a missed
        ``deadline`` (seconds) counts as a failure."""
        self.attempted += 1
        op = self.tracer.begin_op(cls)
        t0 = time.perf_counter()
        try:
            value, ok = fn(), True
        except Exception as e:  # counted, reported, and the run goes on
            value, ok = e, False
        dt = time.perf_counter() - t0
        self.tracer.end_op(op)
        if not ok:
            self.fail(f"{cls}: raised {type(value).__name__}: {str(value)[:200]}")
            return False, value
        self.lat.setdefault(cls, []).append((dt, self.tracer.installed))
        if dt > deadline:
            self.fail(f"{cls}: missed the {deadline:g} s deadline ({dt:.2f} s)")
            return False, value
        return True, value

    def fail(self, reason: str) -> None:
        self.failed += 1
        key = reason.split(":")[0]
        self.failures[key] = self.failures.get(key, 0) + 1
        if self.failures[key] <= 3:
            print(f"perfbench: FAILED {reason}", file=sys.stderr)

    def check(self, fn, *args) -> None:
        """Queue an answer check; it runs after the timed phase and returns
        ``None`` when the answer is right, else the reason."""
        self._checks.append((fn, args))

    def run_checks(self) -> None:
        for fn, args in self._checks:
            try:
                reason = fn(*args)
            except Exception as e:
                reason = f"check raised {type(e).__name__}: {e}"
            if reason is not None:
                self.fail(f"check: {reason}")
        self._checks = []

    def start_round(self, i: int) -> None:
        """Traced runs alternate rounds: odd rounds run with the wrappers
        installed, even rounds without, so the overhead is measured."""
        if not self.tracer.enabled:
            return
        if i % 2:
            self.tracer.install()
        else:
            self.tracer.uninstall()

    def samples(self, cls: str, traced: bool | None = False) -> list[float]:
        """Latencies of ``cls`` and its sub-classes (``sketch`` pools
        ``sketch.distinct``, ``sketch.theta``, ...)."""
        return [
            t
            for c, xs in self.lat.items()
            if c == cls or c.startswith(cls + ".")
            for t, tr in xs
            if traced is None or tr == traced
        ]

    @property
    def setup_s(self) -> float:
        return self.session_s + statistics.median(self.setup_times)


def patch_layers(h: Harness) -> None:
    """Register the program functions a traced round wraps, each at the
    name its caller looks it up by (``engine.py`` imported
    ``parse_select`` by name, so the module attribute there is the one its
    callers reach). A workload that never calls one records nothing."""
    from datafusion_uwheel_spark import engine
    from datafusion_uwheel_spark.operators.lookup import WheelIndex
    from datafusion_uwheel_spark.operators.sketch_retention import SketchRetention
    from datafusion_uwheel_spark.plans import router
    from datafusion_uwheel_spark.streaming.maintenance import StreamingWheelMaintainer

    tr = h.tracer
    tr.patch(engine, "parse_select", "sqlparse")
    tr.patch(engine.WheelEngine, "_parse", "engine.parse")
    tr.patch(router.Router, "try_rewrite", "router", info=lambda r: r[0].kind)
    tr.patch(WheelIndex, "combine_range", "lookup")
    tr.patch(router, "constant_df", "materialize.localrel")
    tr.patch(StreamingWheelMaintainer, "_merge_into", "streaming.merge_wheels")
    tr.patch(SketchRetention, "merge_batch", "streaming.merge_sketch")


# ------------------------------------------------------------- metrics
#: Per-layer metrics in BENCHMARK.json order, with their units.
LAYER_UNITS = {
    "session.start_s": "s",
    "engine.ctor_s": "s",
    "rollups.build_s": "s",
    "rollups.build_jobs": "count",
    "sketch.build_s": "s",
    "sketch.ask_ms.distinct": "ms",
    "sketch.ask_ms.quantile": "ms",
    "sketch.ask_ms.theta": "ms",
    "sketch.ask_ms.topk": "ms",
    "sketch.jobs_per_ask": "count",
    "jvmshim.register_s": "s",
    "shim.sql_ms": "ms",
    "shim.collect_ms": "ms",
    "shim.jobs_per_query": "count",
    "sqlparse.parse_us": "us",
    "sqlparse.parses_per_query": "count",
    "router.route_us": "us",
    "router.delegate_ratio": "ratio",
    "lookup.combine_us": "us",
    "lookup.combines_per_query": "count",
    "materialize.localrel_ms": "ms",
    "materialize.collect_ms": "ms",
    "py4j.calls_per_query": "count",
    "py4j.wait_ms_per_query": "ms",
    "engine.parse_memo_hit_ratio": "ratio",
    "engine.answer_memo_hit_ratio": "ratio",
    "streaming.merge_wheels_ms": "ms",
    "streaming.merge_sketch_ms": "ms",
    "streaming.jobs_per_merge": "count",
    "streaming.merge_growth": "ratio",
    "dedup.signature_s": "s",
    "dedup.pairs_s": "s",
    "dedup.jobs": "count",
    "dedup.tasks": "count",
    "contamination.jobs": "count",
    "contamination.tasks": "count",
    "trace.overhead_ratio": "ratio",
}

#: Operation classes that ask the engine a SQL text (with their per-shape
#: sub-classes, ``rows.count`` and so on).
ENGINE_QUERY_CLASSES = ("rows", "df", "read")


def _median(xs, scale=1.0) -> float:
    return statistics.median(xs) * scale if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(h: Harness) -> dict[str, float]:
    """The per-layer table from the spans of a traced run. A layer the
    workload never calls reads 0."""
    tr = h.tracer
    tr.count_jobs()
    spans = tr.spans
    selfs = self_times(spans)
    traced_ops = {op for op, rec in tr.ops.items() if rec["traced"]}

    def durs(name, scope=None):
        return [
            s[2] - s[1] for s in spans
            if s[0] == name and s[2] is not None and (scope is None or s[4] in scope)
        ]

    def ops_of(cls):
        """Operations of ``cls`` and its sub-classes."""
        return [
            op for op, rec in tr.ops.items()
            if rec["cls"] == cls or rec["cls"].startswith(cls + ".")
        ]

    def per_op_sum(name, ops):
        tot = {op: 0.0 for op in ops}
        for s in spans:
            if s[0] == name and s[4] in tot:
                tot[s[4]] += s[2] - s[1]
        return list(tot.values())

    def traced(cls):
        return [op for op in ops_of(cls) if op in traced_ops]

    query_ops = [
        op for op in traced_ops
        if tr.ops[op]["cls"].split(".")[0] in ENGINE_QUERY_CLASSES
    ]
    qset = set(query_ops)
    n_parse = sum(1 for s in spans if s[0] == "sqlparse" and s[4] in qset)
    n_eparse = sum(1 for s in spans if s[0] == "engine.parse" and s[4] in qset)
    parsed_ops = {s[4] for s in spans if s[0] == "engine.parse" and s[4] in qset}
    routes = [
        (selfs[i], s[5]) for i, s in enumerate(spans)
        if s[0] == "router" and s[4] in traced_ops
    ]
    all_traced = [tr.ops[op] for op in traced_ops]
    merges = [t for t, _ in h.lat.get("merge", ())]
    q = max(1, len(merges) // 4)

    overhead = []
    for cls in h.lat:
        on, off = h.samples(cls, True), h.samples(cls, False)
        if on and off:
            overhead.append(statistics.median(on) / statistics.median(off))

    sketch_ops = traced("sketch")
    m = {
        "session.start_s": h.session_s,
        "engine.ctor_s": _median(durs("op.setup.ctor")),
        "rollups.build_s": _median(durs("op.setup.rollups")),
        "rollups.build_jobs": _median([tr.ops[op]["jobs"] for op in ops_of("setup.rollups")]),
        "sketch.build_s": _median(durs("op.setup.sketch")),
        "sketch.jobs_per_ask": _mean([tr.ops[op]["jobs"] for op in sketch_ops]),
        "jvmshim.register_s": _median(durs("op.setup.jvmshim")),
        "shim.sql_ms": _median(durs("shim.sql", traced_ops), 1e3),
        "shim.collect_ms": _median(durs("shim.collect", traced_ops), 1e3),
        "shim.jobs_per_query": _mean([tr.ops[op]["jobs"] for op in traced("shim")]),
        "sqlparse.parse_us": _median(durs("sqlparse", traced_ops), 1e6),
        "sqlparse.parses_per_query": n_parse / len(query_ops) if query_ops else 0.0,
        "router.route_us": _median([r[0] for r in routes], 1e6),
        "router.delegate_ratio": (
            sum(1 for r in routes if r[1] == "delegate") / len(routes) if routes else 0.0
        ),
        "lookup.combine_us": _median(durs("lookup", traced_ops), 1e6),
        "lookup.combines_per_query": (
            len(durs("lookup", qset)) / len(query_ops) if query_ops else 0.0
        ),
        "materialize.localrel_ms": _median(durs("materialize.localrel", traced_ops), 1e3),
        "materialize.collect_ms": _median(durs("materialize.collect", traced_ops), 1e3),
        "py4j.calls_per_query": _mean([r["py4j_calls"] for r in all_traced]),
        "py4j.wait_ms_per_query": _mean([r["py4j_s"] * 1e3 for r in all_traced]),
        "engine.parse_memo_hit_ratio": 1.0 - n_parse / n_eparse if n_eparse else 0.0,
        "engine.answer_memo_hit_ratio": (
            1.0 - len(parsed_ops) / len(query_ops) if query_ops else 0.0
        ),
        "streaming.merge_wheels_ms": _median(
            per_op_sum("streaming.merge_wheels", traced("merge")), 1e3
        ),
        "streaming.merge_sketch_ms": _median(
            per_op_sum("streaming.merge_sketch", traced("merge")), 1e3
        ),
        "streaming.jobs_per_merge": _mean([tr.ops[op]["jobs"] for op in traced("merge")]),
        "streaming.merge_growth": (
            _mean(merges[-q:]) / _mean(merges[:q]) if len(merges) >= 4 else 0.0
        ),
        "dedup.signature_s": _median(durs("dedup.signature", traced_ops)),
        "dedup.pairs_s": _median(durs("dedup.pairs", traced_ops)),
        "dedup.jobs": _mean([tr.ops[op]["jobs"] for op in traced("dedup")]),
        "dedup.tasks": _mean([tr.ops[op]["tasks"] for op in traced("dedup")]),
        "contamination.jobs": _mean([tr.ops[op]["jobs"] for op in traced("decontam")]),
        "contamination.tasks": _mean([tr.ops[op]["tasks"] for op in traced("decontam")]),
        "trace.overhead_ratio": stats.geomean(overhead) if overhead else 0.0,
    }
    for fam in ("distinct", "quantile", "theta", "topk"):
        m[f"sketch.ask_ms.{fam}"] = _median(
            [t for t, tr_ in h.lat.get(f"sketch.{fam}", ()) if tr_], 1e3
        )
    return {k: m[k] for k in LAYER_UNITS}


# ------------------------------------------------------------- results
def class_p50(h: Harness, cls: str) -> float:
    """A class's median in seconds. A class with sub-classes (the shapes of
    a surface, the families of the sketch asks) weighs each sub-class
    equally: the geometric mean of their medians. The pooled median of a
    mix of shapes sits at the edge between two shapes' latencies, where
    each seed's draw of ranges moves it most."""
    subs = sorted({c for c in h.lat if c.startswith(cls + ".") and h.samples(c)})
    if not subs:
        return stats.quantile(h.samples(cls), 0.5)
    return stats.geomean(stats.quantile(h.samples(c), 0.5) for c in subs)


def class_stats(h: Harness, cls: str) -> dict:
    xs = h.samples(cls)
    out = {"n": len(xs)}
    if xs:
        out["p50_ms"] = stats.quantile(xs, 0.5) * 1e3
        q = stats.tail_quantile(len(xs))
        if q is not None:
            out[f"p{round(q * 100)}_ms"] = stats.quantile(xs, q) * 1e3
    return out


def finish(h: Harness, light: str, heavy: str, classes: list[str], named: dict) -> dict:
    """Run the queued checks, print the report line, and return the result.

    ``light``/``heavy`` name the workload's light and heavy operation
    classes, ``classes`` every class in the geometric mean, ``named`` the
    workload's own figures for the report line."""
    import pyspark

    h.run_checks()
    if h.tracer.enabled:
        metrics = {
            k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer_metrics(h).items()
        }
        h.tracer.dump(h.trace_path)
    else:
        p50 = {c: class_p50(h, c) * 1e3 for c in classes if h.samples(c)}
        missing = [c for c in classes if c not in p50]
        if missing:
            h.fail(f"no samples: {missing}")
        metrics = {
            "setup_s": {"value": h.setup_s, "unit": "s"},
            "light_p50_ms": {"value": p50.get(light, 0.0), "unit": "ms"},
            "heavy_p50_ms": {"value": p50.get(heavy, 0.0), "unit": "ms"},
            "geo_p50_ms": {
                "value": stats.geomean(p50.values()) if not missing else 0.0,
                "unit": "ms",
            },
        }
    report = {
        "workload": h.args.workload,
        "seed": h.args.seed,
        "nproc": h.nproc,
        "spark_version": pyspark.__version__,
        "driver_memory": DRIVER_MEMORY,
        "jvm_options": JVM_OPTIONS,
        "setup_runs_s": [round(t, 4) for t in h.setup_times],
        "session_s": h.session_s,
        "attempted": h.attempted,
        "failed": h.failed,
        "fail_ratio": h.failed / max(1, h.attempted),
        "failures": h.failures,
        "classes": {c: class_stats(h, c) for c in sorted(h.lat)},
        **named,
        **h.notes,
    }
    print("perfbench report " + json.dumps(report, default=str))
    return {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": metrics,
    }
