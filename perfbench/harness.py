"""Closed-loop query runner: one client, one query at a time.

A query execution is one call to the registry builder followed by
``gather()`` of the full result; the clock covers both. After the clock
stops, the gathered rows are compared with the DuckDB oracle's rows as
an order-insensitive multiset. Every exception and every mismatch, in
an untimed pass or a timed pass, is a failed execution.
"""

from __future__ import annotations

import math
import random
import statistics
import sys
import time
from dataclasses import dataclass, field

from spans import StatusReader, Tracer, self_times
from workloads import COMPAT_RATIOS, Workload

PACKAGE = "map_reduce_engine_cdps_spark."


def metric_module(fn) -> str:
    """``plans.dedup`` for a builder defined in the package's plans.dedup."""
    return fn.__module__.removeprefix(PACKAGE)


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten of ``n`` samples above it."""
    return max(0, (100 * (n - 10)) // n) if n > 10 else 0


def harrell_davis_median(values) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, the i-th of n weighted by the probability that a
    Beta((n+1)/2, (n+1)/2) variable falls in [(i-1)/n, i/n]."""
    xs = sorted(values)
    n = len(xs)
    a = (n + 1) / 2
    log_norm = math.lgamma(2 * a) - 2 * math.lgamma(a)
    steps = 100 * n  # midpoint rule, 100 points per interval
    weights = [0.0] * n
    for j in range(steps):
        x = (j + 0.5) / steps
        weights[j * n // steps] += math.exp(log_norm + (a - 1) * math.log(x * (1 - x)))
    return sum(w * v for w, v in zip(weights, xs)) / sum(weights)


def nearest_rank(sorted_vals: list[float], pct: int) -> float:
    k = max(1, -(-pct * len(sorted_vals) // 100))  # ceil(pct * n / 100)
    return sorted_vals[k - 1]


@dataclass
class Execution:
    query: str
    pass_no: int = -1  # -1 for the untimed passes
    wall_s: float = 0.0
    ok: bool = False
    error: str = ""
    layers: dict = field(default_factory=dict)

    @property
    def timed(self) -> bool:
        return self.pass_no >= 0


class Runner:
    """Runs one workload against an already generated input directory."""

    def __init__(self, spark, workload: Workload, data_dir: str,
                 expected: dict[str, list[str]], registry: dict, multiset,
                 gather, load_table, tracer: Tracer) -> None:
        self.spark = spark
        self.wl = workload
        self.data_dir = data_dir
        self.expected = expected
        self.registry = registry
        self.multiset = multiset
        self.gather = gather
        self.load_table = load_table
        self.tracer = tracer
        self.status = StatusReader(spark) if tracer.enabled else None
        self.executions: list[Execution] = []
        self.failures: list[dict] = []
        self.scans: list[tuple[float, int]] = []
        self._n = 0

    # -- one execution -----------------------------------------------------
    def execute(self, name: str, pass_no: int = -1) -> Execution:
        fn = self.registry[name][0]
        ex = Execution(name, pass_no)
        timed = ex.timed
        self._n += 1
        group = f"perfbench-{self._n}"
        tracing = self.tracer.enabled
        sc = self.spark.sparkContext if tracing else None
        rows = df = None
        try:
            with self.tracer.span("query", query=name, timed=timed):
                t0 = time.perf_counter()
                with self.tracer.span("plans.build", query=name) as build:
                    if tracing:
                        sc.setJobGroup(group + "-build", name)
                    df = fn(self.spark, self.data_dir)
                with self.tracer.span("sources.gather", query=name) as gath:
                    if tracing:
                        sc.setJobGroup(group + "-gather", name)
                    rows = self.gather(df)
                ex.wall_s = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - every failure is counted
            ex.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        if rows is not None:
            got = self.multiset(df.columns, [tuple(r) for r in rows])
            want = self.expected[name]
            ex.ok = got == want
            if not ex.ok:
                diff = next(
                    ((x, y) for x, y in zip(got, want) if x != y),
                    (f"{len(got)} rows", f"{len(want)} rows"),
                )
                ex.error = f"oracle mismatch, first diff (got, want): {diff}"
        if tracing and rows is not None:
            ex.layers = self._layers(group, build, gath, len(rows))
        if not ex.ok:
            phase = "timed" if timed else "untimed"
            self.failures.append({"query": name, "phase": phase, "error": ex.error})
            print(f"perfbench: FAILED {name} ({phase}): {ex.error}", file=sys.stderr)
        self.executions.append(ex)
        return ex

    def _layers(self, group: str, build_span: int, gather_span: int,
                n_rows: int) -> dict:
        """Layer numbers of one execution, read after its clock stopped."""
        t0 = time.perf_counter()
        # the status stores are fed by the listener bus; drain it first
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        build = self.tracer.spans[build_span]
        gather = self.tracer.spans[gather_span]
        b = self.status.jobs(group + "-build")
        g = self.status.jobs(group + "-gather")
        py = self.status.python_nodes()
        out = {
            "build_s": build.end - build.start,
            "build_jobs": b["jobs"],
            "gather_s": gather.end - gather.start,
            "gather_driver_s": max(0.0, (gather.end - gather.start) - g["job_wall_s"]),
            "result_rows": n_rows,
            "python": py,
        }
        for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_write_b",
                  "shuffle_read_b", "spill_b", "gc_s"):
            out[k] = b[k] + g[k]
        out["read_s"] = time.perf_counter() - t0
        return out

    def scan_inputs(self, row_counts: dict[str, int]) -> None:
        """Noop-sink scan of every input table through ``load_table``."""
        t0 = time.perf_counter()
        with self.tracer.span("sources.scan"):
            for t in self.wl.tables:
                with self.tracer.span("sources.load_table", table=t):
                    self.load_table(self.spark, self.data_dir, t).write.format(
                        "noop").mode("overwrite").save()
        self.scans.append((time.perf_counter() - t0,
                           sum(row_counts[t] for t in self.wl.tables)))

    # -- passes --------------------------------------------------------------
    def untimed_pass(self, span: str) -> None:
        """One pass in the workload's fixed order, outside the timed window."""
        with self.tracer.span(span):
            for name in self.wl.queries:
                self.execute(name)

    def timed_passes(self, passes: int, seed: int, row_counts: dict) -> None:
        rng = random.Random(seed)
        for pass_no in range(passes):
            order = list(self.wl.queries)
            rng.shuffle(order)
            with self.tracer.span("pass"):
                for name in order:
                    self.execute(name, pass_no)
            if self.tracer.enabled:
                self.scan_inputs(row_counts)

    # -- metrics -------------------------------------------------------------
    def counts(self) -> tuple[int, int]:
        return len(self.executions), sum(not e.ok for e in self.executions)

    def end_to_end(self, setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
        timed = [e for e in self.executions if e.timed]
        # an execution that raised has no wall time
        times = sorted(e.wall_s for e in timed if e.wall_s > 0) or [0.0]
        attempted, failed = self.counts()
        correct = [e for e in timed if e.ok]
        medians = self.per_query_medians()
        slowest = max(medians, key=medians.get, default="")
        pct = tail_percentile(len(times))
        metrics = {
            "setup_s": (setup_s, "s"),
            # Harrell-Davis, not the sample median: the sample median falls
            # in the gap between the fast and the slow queries (README.md)
            "query_s_p50": (harrell_davis_median(times), "s"),
            # the slowest query's median: a run has too few executions
            # for a high percentile (the ten-beyond one goes in info)
            "query_s_tail": (medians.get(slowest, 0.0), "s"),
            "throughput_qpm": (60.0 * len(correct) / (sum(times) or 1.0), "1/min"),
            # rule-of-succession estimate: never 0, and the raw counts
            # travel next to it in the result line
            "error_rate": ((failed + 1) / (attempted + 2), "ratio"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
        info = {"tail_query": slowest,
                "sample_median_s": statistics.median(times),
                # the highest percentile with ten timed executions above it
                "ten_beyond_percentile": pct,
                "ten_beyond_s": nearest_rank(times, pct),
                "timed_samples": len(times),
                "attempted": attempted, "failed": failed}
        return metrics, info

    def per_query_medians(self) -> dict[str, float]:
        out = {}
        for name in self.wl.queries:
            vals = [e.wall_s for e in self.executions if e.timed and e.query == name
                    and e.ok]
            if vals:
                out[name] = statistics.median(vals)
        return out

    def per_layer(self, get_spark_s: float, warmup_s: float,
                  all_queries: list[str]) -> dict[str, tuple[float, str]]:
        """Per-layer metrics of a traced run: per-pass sums over the timed
        executions, median over passes; setup numbers once per run."""
        timed = [e for e in self.executions if e.timed and e.layers]
        passes = [[e for e in timed if e.pass_no == p]
                  for p in sorted({e.pass_no for e in timed})] or [[]]

        def per_pass(f) -> float:
            return statistics.median(sum(f(e) for e in p) for p in passes)

        def lay(key, scale=1.0):
            return per_pass(lambda e: e.layers[key] * scale)

        def py(key, scale=1.0):
            return per_pass(lambda e: e.layers["python"][key] * scale)

        mb = 1.0 / 2**20
        memo = [e.wall_s for e in self.executions
                if not e.timed and e.query == "minhash_lsh_pairs"]
        shims = {shim for shim, _ in COMPAT_RATIOS.values()}
        med = self.per_query_medians()
        m: dict[str, tuple[float, str]] = {
            "session.get_spark_s": (get_spark_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            "plans.dedup.memo_cold_s": (memo[0] if memo else 0.0, "s"),
            "sources.scan_s": (statistics.median(s for s, _ in self.scans)
                               if self.scans else 0.0, "s"),
            "sources.scan_rows": (self.scans[0][1] if self.scans else 0, "rows"),
            "sources.gather_s": (lay("gather_s"), "s"),
            "sources.gather_driver_s": (lay("gather_driver_s"), "s"),
            "sources.result_rows": (lay("result_rows"), "rows"),
            "plans.build_s": (lay("build_s"), "s"),
            "plans.build_jobs": (lay("build_jobs"), "count"),
            "plans.jobs": (lay("jobs"), "count"),
            "plans.stages": (lay("stages"), "count"),
            "plans.tasks": (lay("tasks"), "count"),
            "plans.executor_run_s": (lay("run_s"), "s"),
            "plans.executor_cpu_s": (lay("cpu_s"), "s"),
            "plans.shuffle_write_mb": (lay("shuffle_write_b", mb), "MB"),
            "plans.shuffle_read_mb": (lay("shuffle_read_b", mb), "MB"),
            "plans.spill_mb": (lay("spill_b", mb), "MB"),
            "plans.gc_s": (lay("gc_s"), "s"),
            "functions.python_nodes": (py("nodes"), "count"),
            "functions.python_start_s": (py("start_s"), "s"),
            "functions.python_run_s": (py("run_s"), "s"),
            "functions.python_bytes_out_mb": (py("sent_b", mb), "MB"),
            "functions.python_bytes_in_mb": (py("returned_b", mb), "MB"),
            "compat.shuffle_write_mb": (per_pass(
                lambda e: e.layers["shuffle_write_b"] * mb if e.query in shims
                else 0.0), "MB"),
        }
        for metric, (shim, twin) in COMPAT_RATIOS.items():
            ratio = med[shim] / med[twin] if shim in med and twin in med else 0.0
            m[metric] = (ratio, "ratio")
        times = [e.wall_s for e in timed]
        m["trace.throughput_qpm"] = (
            60.0 * sum(e.ok for e in timed) / sum(times) if times else 0.0, "1/min")
        m["trace.status_read_s"] = (lay("read_s"), "s")
        for name in all_queries:
            fn = self.registry[name][0]
            m[f"{metric_module(fn)}.{name}_s"] = (med.get(name, 0.0), "s")
        return m

    def self_time_summary(self) -> dict[str, float]:
        """Summed self time per span name (the trace's layer breakdown)."""
        out: dict[str, float] = {}
        for s, st in zip(self.tracer.spans, self_times(self.tracer.spans)):
            out[s.name] = out.get(s.name, 0.0) + st
        return out
