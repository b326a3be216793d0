"""Benchmark entry point.

    python3 perfbench/run.py --workload text_dedup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run is one fresh process:

1. generate the workload's inputs from the seed (gen.py) into a
   scratch directory inside the checkout;
2. compute every query's DuckDB oracle result on those files;
3. host probe (excluded from every metric);
4. start the session and run one untimed warm-up pass; ``setup_s`` is
   the time from the first line of this file to the end of that pass,
   less steps 1-3;
5. run a second untimed pass, then the timed passes, checking every
   execution against its oracle;
6. host probe again, write the artifact, stop every process, and print
   one JSON result line as the last line of standard output.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (see README.md). Exits non-zero without a result
line when the engine package or its inputs are missing.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib.util
import json
import os
import platform
import shutil
import signal
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from py4j.protocol import Py4JError  # noqa: E402

import gen  # noqa: E402
from harness import Runner  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.05  # seconds between memory samples
RELIST_EVERY = 10  # samples between re-listings of the process tree


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class MemorySampler:
    """Peak memory of the driver JVM and every process below it (the
    Python daemon and workers).

    A sample is the tree's resident memory from /proc, with the JVM's
    heap counted as the heap left in use after its latest young
    collection instead of the whole committed heap. The heap is
    committed and touched at start, so all of it is always resident;
    the after-collection figure is what the engine retains, and it
    grows when the engine holds more. The tree is re-listed every
    ``RELIST_EVERY`` samples; in between only the known processes'
    ``statm`` is read.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        mf = sc._jvm.java.lang.management.ManagementFactory
        self.pid = sc._gateway.proc.pid
        self.committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
        self._heap_pools = {p.getName() for p in mf.getMemoryPoolMXBeans()
                            if p.getType().toString() == "Heap memory"}
        self._young = next(b for b in mf.getGarbageCollectorMXBeans()
                           if "Young" in b.getName())
        self.peak = 0
        # the peak's two parts, each at its own peak, for the artifact
        self.peak_rss = self.peak_retained = 0
        self.error: Exception | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _retained(self) -> int:
        after = self._young.getLastGcInfo().getMemoryUsageAfterGc()
        return sum(after[p].getUsed() for p in self._heap_pools)

    def _loop(self) -> None:
        n, pids, collections, retained = 0, [self.pid], 0, 0
        while not self._stop.wait(SAMPLE_S):
            if n % RELIST_EVERY == 0:
                pids = _descendants(self.pid)
            n += 1
            try:
                count = self._young.getCollectionCount()
                if count != collections:
                    collections, retained = count, self._retained()
            except Py4JError as e:
                self.error = e
                return
            rss = _rss_bytes(pids)
            self.peak = max(self.peak, rss - self.committed + retained)
            self.peak_rss = max(self.peak_rss, rss)
            self.peak_retained = max(self.peak_retained, retained)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_mb(self) -> float:
        """The peak of a finished sampling; fails if a sample failed."""
        if self.error is not None:
            raise RuntimeError("memory sampling failed") from self.error
        return self.peak / 2**20


def host_probe(parquet_path: str) -> dict:
    """Fixed work: a single-core CPU spin and a one-file parquet scan+count."""
    import pyarrow.parquet as pq

    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i
    spin = time.perf_counter() - t0
    t0 = time.perf_counter()
    rows = pq.read_table(parquet_path).num_rows
    scan = time.perf_counter() - t0
    return {"cpu_spin_s": spin, "parquet_scan_s": scan, "parquet_rows": rows}


def _commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def _load_oracle_check():
    """tools/oracle_check.py, for the oracle comparison's normalization."""
    path = os.path.join(ROOT, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_results(data_dir: str, queries, registry, multiset, threads: int,
                   tmp_dir: str) -> dict:
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in gen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    out = {}
    for name in queries:
        sql = registry[name][1]
        sql = sql() if callable(sql) else sql
        rel = con.sql(sql)
        out[name] = multiset(rel.columns, rel.fetchall())
    con.close()
    return out


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    # a terminated run still stops its JVM and deletes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # The engine is imported from the checkout; without it there is
    # nothing to measure and the run fails here.
    sys.path.insert(0, ROOT)
    from map_reduce_engine_cdps_spark.plans.registry import _REGISTRY
    from map_reduce_engine_cdps_spark.session import get_spark
    from map_reduce_engine_cdps_spark.sources.readers import load_table
    from map_reduce_engine_cdps_spark.sources.writers import gather

    oracle_check = _load_oracle_check()
    cpus = len(os.sched_getaffinity(0))
    driver_mem_mb = min(1024, host_ram_mb() // 4)
    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}-{time.time_ns()}")
    data_dir = os.path.join(work, "data")
    for sub in ("data", "spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    # Python workers import the engine from the checkout too; every
    # scratch file of Spark, the JVM and Python lands in ``work``.
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    spark = sampler = None
    try:
        t0 = time.perf_counter()
        row_counts = gen.generate(data_dir, args.seed, wl.k, wl.tables)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        expected = oracle_results(data_dir, wl.queries, _REGISTRY,
                                  oracle_check.df_multiset, cpus,
                                  os.path.join(work, "tmp"))
        oracle_s = time.perf_counter() - t0
        probe_path = os.path.join(data_dir, f"{wl.tables[-1]}.parquet")
        t0 = time.perf_counter()
        probe_before = host_probe(probe_path)
        # generation, oracle and probe are benchmark overhead, not set-up
        excluded_s = time.perf_counter() - t0 + gen_s + oracle_s

        tracer = Tracer(bool(args.trace))
        t_setup = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(
                app_name=f"perfbench-{wl.name}",
                extra_conf={
                    "spark.local.dir": os.path.join(work, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    # the whole heap is committed and touched at start, so
                    # the JVM's resident size does not depend on how far
                    # the heap happened to grow in a run (MemorySampler
                    # counts the retained heap instead)
                    "spark.driver.extraJavaOptions":
                        f"-Xms{driver_mem_mb}m -XX:+AlwaysPreTouch",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        get_spark_s = time.perf_counter() - t_setup
        sampler = MemorySampler(spark)
        runner = Runner(spark, wl, data_dir, expected, _REGISTRY,
                        oracle_check.df_multiset, gather, load_table, tracer)
        t0 = time.perf_counter()
        runner.untimed_pass("session.warmup")
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T0 - excluded_s
        # The first pass pays the cold costs (JVM and codegen, Python
        # workers, memo builds). The JIT is still compiling through a
        # second one, the steepest part of the warm-up curve left, so it
        # is kept out of the timed passes and out of setup_s.
        runner.untimed_pass("settle")
        passes = wl.passes_for(args.seconds)
        t0 = time.perf_counter()
        runner.timed_passes(passes, args.seed, row_counts)
        window_s = time.perf_counter() - t0
        sampler.stop()
        peak_rss_mb = sampler.peak_mb()
        memory_info = {"peak_tree_rss_mb": sampler.peak_rss / 2**20,
                       "peak_heap_retained_mb": sampler.peak_retained / 2**20}
        conf = spark.sparkContext.getConf()
        provenance = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "commit": _commit(), "cpus": cpus,
            "driver_memory": conf.get("spark.driver.memory"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": spark.version, "python": platform.python_version(),
            "pyarrow": __import__("pyarrow").__version__,
            "inputs": {"base": "sf0.001 test tables", "k": wl.k,
                       "rows": row_counts},
            "passes": passes, "timed_window_s": window_s,
            "overhead_s": {"generate": gen_s, "oracle": oracle_s},
        }
        e2e, e2e_info = runner.end_to_end(setup_s, peak_rss_mb)
        e2e_info.update(memory_info)
        if args.trace:
            metrics = runner.per_layer(get_spark_s, warmup_s, _all_queries())
        else:
            metrics = e2e
        stop_session(spark)
        spark = None
        probe_after = host_probe(probe_path)
        attempted, failed = runner.counts()
        artifact = {
            "provenance": provenance,
            "host_probe": {"before": probe_before, "after": probe_after},
            "end_to_end": {k: v for k, (v, _) in e2e.items()} | e2e_info,
            "metrics": {k: v for k, (v, _) in metrics.items()},
            "per_query_median_s": runner.per_query_medians(),
            "executions": [[e.query, e.pass_no, e.wall_s, e.ok]
                           for e in runner.executions],
            "failures": runner.failures,
        }
        if args.trace:
            artifact["self_time_s"] = runner.self_time_summary()
            artifact["spans"] = tracer.to_json()
        _write_artifact(artifact, wl.name, args, cpus)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        try:
            if sampler is not None:
                sampler.stop()
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _all_queries() -> list[str]:
    seen: dict[str, None] = {}
    for w in WORKLOADS.values():
        seen.update(dict.fromkeys(w.queries))
    return list(seen)


def _write_artifact(artifact: dict, workload: str, args, cpus: int) -> None:
    out = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(out, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    name = (f"{workload}-trace{args.trace}-seed{args.seed}-c{cpus}-{stamp}-"
            f"{os.getpid()}.json")
    with open(os.path.join(out, name), "x") as f:
        json.dump(artifact, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
