"""End-to-end benchmark of the etl_java_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

One process, one client, closed loop, on ``local[<cores>]``. The run
writes seeded inputs under ``perfbench/.work/``, sets the engine up three
times (``setup_s`` is the median), warms up for twice ``--seconds``, then
runs whole passes over the workload's operations in a seeded order until
``--seconds`` have passed. ``pass_cpu_s`` is the median CPU time of a
timed pass, ``pass_s`` its median wall time. A query operation is timed
from the call into ``queries.QUERIES[name]`` until its full result has
been written to the ``noop`` sink; a load operation is one batch, timed from the first
``Pipeline.run`` call until both sinks have committed. After the timed
passes every query result is compared with its DuckDB oracle and each
load destination with an independently computed table.

With ``--trace 1`` the timed passes alternate between untraced and
traced; the traced ones record spans around the calls into each layer
(see spans.py) and a Spark event log, which eventlog.py reduces to the
per-layer figures. Human-readable figures go to stdout first; the last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. The exit code is 0 only when every
operation and check succeeded.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Query workloads list the queries of one pass; ``upsert_load`` lists
#: how many seeded batches one pass loads. ``scale`` is the star-schema
#: scale factor (TPC-H sf) of the generated tables. ``iterative`` is not
#: listed in BENCHMARK.json: a third workload does not fit the benchmark's
#: time budget (see README.md), but it stays runnable for claims about
#: iterative operators.
WORKLOADS: dict[str, dict] = {
    "relational": {
        "scale": 0.01,
        "queries": [
            "q01_pricing_summary",
            "q03_shipping_priority",
            "q05_regional_revenue",
        ],
    },
    "iterative": {
        "scale": 0.01,
        "queries": ["q215_k_core"],
    },
    "upsert_load": {"scale": 0.01, "batches": 1},
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
SETUPS = 3
#: Untimed passes after set-up, at least WARM_PASSES of them and for at
#: least WARM_SHARE times ``--seconds``: the first pays every operation's
#: first-execution costs, the others take JIT warm-up. Pass time keeps
#: falling for about a minute of passes (relational: 3.2 s on the first,
#: 2.0 s after 20); timing on the steep part of that curve made medians
#: of runs of the same code spread by up to 30%. The warm-up is bounded
#: in time, not in passes, so that a run's length stays fixed.
WARM_PASSES = 3
WARM_SHARE = 2.0

#: The JSON result carries these. The pass times (``pass_s``,
#: ``pass_cpu_s``, query_p50_s / load_batch_p50_s) are printed but left
#: out. On a 4-vCPU virtual machine sharing its host, the hypervisor took
#: 10-23% of the CPU time away (printed as ``host_steal_share``) in six of
#: ten consecutive runs, and the CPUs that did run slowed by as much: the
#: median ``pass_cpu_s`` of ten runs of the same code spread by 25% of its
#: median, ``pass_s`` by up to 35%. No bound a metric may carry (at most
#: 0.25) holds across such runs. The Spark work of a pass does not depend
#: on the host, and it is what this engine's latency follows: relational
#: is bound by per-job scheduling, about 50 ms a job.
END_TO_END = {
    "setup_s": "s",
    "spark_jobs_per_pass": "jobs",
    "spark_tasks_per_pass": "tasks",
    "heap_live_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "sources.read_calls": "calls/op",
    "sources.read_s": "s/op",
    "sources.read_jobs": "jobs/op",
    "operators.construct_s": "s/op",
    "operators.self_s": "s/op",
    "operators.construct_jobs": "jobs/op",
    "operators.construct_share": "fraction",
    "plans.materialize_calls": "calls/op",
    "plans.materialize_s": "s/op",
    "plans.materialize_jobs": "jobs/op",
    "plans.cached_bytes_max": "bytes",
    "catalyst.plan_s": "s/op",
    "execute.s": "s/op",
    "execute.jobs": "jobs/op",
    "execute.stages": "stages/op",
    "execute.tasks": "tasks/op",
    "execute.tasks_per_stage": "tasks/stage",
    "execute.job_s_mean": "s/job",
    "execute.executor_run_s": "s/op",
    "execute.executor_cpu_s": "s/op",
    "execute.gc_s": "s/op",
    "execute.core_busy_frac": "fraction",
    "execute.shuffle_write_bytes": "bytes/op",
    "execute.shuffle_read_bytes": "bytes/op",
    "execute.spill_bytes": "bytes/op",
    "pipeline.build_s": "s/op",
    "sinks.merge_s": "s/op",
    "sinks.jobs_per_batch": "jobs/op",
    "sinks.bytes_written": "bytes/op",
    "sinks.write_amp": "ratio",
    "sinks.bytes_per_row": "bytes/row",
    "sinks.files": "files",
    "trace.overhead_share": "fraction",
    "trace.unaccounted_share": "fraction",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None, help="override the workload's scale factor")
    args = ap.parse_args(argv)
    if args.scale is None:
        args.scale = WORKLOADS[args.workload]["scale"]
    return args


# ---------------------------------------------------------------------------
# process memory: VmHWM of the driver, its JVM and the JVM's Python workers


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(path: str) -> int:
    """utime + stime of a process or thread, in clock ticks."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return int(fields[11]) + int(fields[12])


_TICK = os.sysconf("SC_CLK_TCK")


def engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and its Python
    workers, less the JVM's JIT compiler threads. Compilation is warm-up
    the timed passes have not finished; counting it made the median CPU
    time of runs of the same code spread by 10%. The JVM is started with
    a fixed set of compiler threads, so none exits and takes its count
    with it."""
    ticks = _cpu_ticks(f"/proc/{os.getpid()}/stat")
    ticks += sum(_cpu_ticks(f"/proc/{p}/stat") for p in descendants(jvm_pid))
    task = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/comm") as f:
                jit = f.read().startswith(("C1 Compiler", "C2 Compiler"))
        except OSError:
            continue
        if jit:
            ticks -= _cpu_ticks(f"{task}/{tid}/stat")
    return ticks / _TICK


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


class PeakRss:
    """Largest summed VmHWM seen over the driver, JVM and workers."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self.jvm_pid: int | None = None

    def sample(self) -> None:
        pids = [os.getpid()] + (descendants(self.jvm_pid) if self.jvm_pid else [])
        self.peak_kb = max(self.peak_kb, sum(_hwm_kb(p) for p in pids))


# ---------------------------------------------------------------------------


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs: list[float]) -> float | None:
    """p90 only when at least ten samples lie beyond it."""
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 100 else None


class Bench:
    def __init__(self, args: argparse.Namespace, work: str, cores: int) -> None:
        self.args = args
        self.work = work
        self.cores = cores
        self.spec = WORKLOADS[args.workload]
        self.is_load = "batches" in self.spec
        self.data_dir = os.path.join(work, "data")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.mem = PeakRss()
        self.spark = None
        self.tracer = None
        self.dest_no = 0
        self.last_dest: tuple[str, str] | None = None

    # -- session ------------------------------------------------------------

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tempfile.gettempdir()}"
            ),
        }
        if self.args.trace:
            os.makedirs(os.path.join(self.work, "events"), exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def start_session(self) -> None:
        from pyspark import SparkContext

        from etl_java_spark.session import get_session

        self.spark = get_session("perfbench", extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.mem.jvm_pid = SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop Spark and its JVM, and wait for every process it started."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        proc = gateway.proc
        procs = descendants(proc.pid)
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 30
        for pid in procs:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)

    # -- operations ---------------------------------------------------------

    def query_op(self, name: str, group: str | None) -> float:
        from etl_java_spark import queries as Q

        fn = Q.QUERIES[name]
        if group is None:
            t = time.perf_counter()
            fn(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t
        tr = self.tracer
        tr.set_group(group)
        op = len(tr.spans)
        with tr.span("op"):
            with tr.span("operators"):
                df = fn(self.spark, self.data_dir)
            with tr.span("catalyst"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("execute"):
                df.write.format("noop").mode("overwrite").save()
        return tr.spans[op].end - tr.spans[op].start

    def load_op(self, i: int, group: str | None) -> float:
        from etl_java_spark.plans.pipeline import InsertIfAbsentSink, MergeSink, ParquetSource, Pipeline

        from datagen import ORDER_COLUMNS

        merge_dest, insert_dest = self.last_dest
        source = ParquetSource(self.load.batch_paths[i])
        common = dict(
            source=source,
            select=ORDER_COLUMNS,
            rename={"o_orderkey": "id"},
            transforms=[("o_orderpriority", "lower")],
        )
        merge = Pipeline(**common, sink=MergeSink(merge_dest, pks=["id"]), dest_pks=["id"])
        insert = Pipeline(**common, sink=InsertIfAbsentSink(insert_dest))
        if group is None:
            t = time.perf_counter()
            merge.run(self.spark)
            insert.run(self.spark)
            return time.perf_counter() - t
        tr = self.tracer
        tr.set_group(group)
        op = len(tr.spans)
        with tr.span("op"):
            merge.run(self.spark)
            insert.run(self.spark)
        return tr.spans[op].end - tr.spans[op].start

    def fresh_destinations(self) -> None:
        """Copy the seeded destination for the next load pass (untimed)."""
        self.dest_no += 1
        base = os.path.join(self.work, "dest", str(self.dest_no))
        pair = (os.path.join(base, "merge"), os.path.join(base, "insert"))
        for d in pair:
            shutil.copytree(self.load.dest_seed_path, d)
        if self.last_dest is not None:
            shutil.rmtree(os.path.dirname(self.last_dest[0]), ignore_errors=True)
        self.last_dest = pair

    def one_pass(self, order: list, label: str, traced: bool) -> tuple[float, list[float], float]:
        """Run every operation once; returns (pass wall time, op latencies,
        pass CPU time). A failed operation is counted and left out of the
        latencies."""
        if self.is_load:
            self.fresh_destinations()
        lat = []
        cpu = engine_cpu_s(self.mem.jvm_pid)
        t = time.perf_counter()
        for k, op in enumerate(order):
            group = f"{label}.{k}" if traced else None
            self.attempted += 1
            try:
                if self.is_load:
                    lat.append(self.load_op(op, group))
                else:
                    lat.append(self.query_op(op, group))
            except Exception as ex:  # a failing operation must not stop the run
                self.failed += 1
                self.errors.append(f"{label} {op}: {type(ex).__name__}: {str(ex)[:300]}")
                traceback.print_exc(file=sys.stderr)
            if traced:
                self.cached_bytes.append(self.storage_bytes())
            self.mem.sample()
        wall = time.perf_counter() - t
        return wall, lat, engine_cpu_s(self.mem.jvm_pid) - cpu

    def spark_work(self, group: str) -> tuple[int, int]:
        """(jobs, tasks run) of one job group, from Spark's status store
        once the listener bus has delivered every event. A stage that a
        later job reuses is counted once."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            stages.update(info.stageIds if info else [])
        infos = [st.getStageInfo(sid) for sid in stages]
        return len(jobs), sum(i.numCompletedTasks for i in infos if i)

    def live_heap_mb(self) -> float:
        """JVM heap still in use after full collections (untimed).

        Python drops its DataFrame handles first. Spark's cleaner frees
        unreachable RDDs and broadcasts only after a collection has found
        them, and G1 clears soft-referenced buffers only as it shrinks the
        heap, so the first two or three collections read up to twice the
        live heap. The smallest of six readings is taken."""
        import gc

        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        readings = []
        for _ in range(6):
            gc.collect()
            jvm.java.lang.System.gc()
            time.sleep(0.1)
            readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        return min(readings)

    def storage_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def ops(self) -> list:
        if self.is_load:
            return list(range(self.spec["batches"]))
        return list(self.spec["queries"])

    # -- phases -------------------------------------------------------------

    def make_inputs(self) -> None:
        import datagen

        tables = datagen.write_star_schema(self.data_dir, self.args.seed, self.args.scale)
        if self.is_load:
            self.load = datagen.write_load_inputs(
                os.path.join(self.work, "load"), self.args.seed, tables["orders"], self.spec["batches"]
            )

    def set_up(self, t_imports: float) -> None:
        """SETUPS set-ups, then untimed warm passes.

        A set-up is ``get_session`` plus a small join-and-aggregate read
        through the engine's reader, which pays the per-session costs
        (package shipping, first job, codegen start-up). The first set-up
        also pays the imports and the JVM launch; the others stop the
        session and start a new one in the same JVM."""
        from etl_java_spark import queries as Q

        self.setup_s, self.session_s = [], []
        for r in range(SETUPS):
            if r:
                self.spark.stop()
            t = time.perf_counter()
            self.start_session()
            self.session_s.append(time.perf_counter() - t)
            li = Q._t(self.spark, self.data_dir, "lineitem")
            o = Q._t(self.spark, self.data_dir, "orders")
            li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count().write.format(
                "noop"
            ).mode("overwrite").save()
            self.setup_s.append(time.perf_counter() - t + (t_imports if r == 0 else 0.0))
            self.mem.sample()
        self.warm_s = []
        start = time.perf_counter()
        while len(self.warm_s) < WARM_PASSES or time.perf_counter() - start < WARM_SHARE * self.args.seconds:
            self.warm_s.append(self.one_pass(self.ops(), f"warm{len(self.warm_s)}", traced=False)[0])

    def timed(self) -> None:
        rng = random.Random(self.args.seed)
        self.plain_pass, self.plain_lat, self.plain_cpu = [], [], []
        self.plain_jobs, self.plain_tasks = [], []
        self.traced_pass, self.traced_lat = [], []
        self.cached_bytes: list[int] = []
        self.traced_groups: list[str] = []
        if self.args.trace:
            from spans import Tracer, install_wrappers

            self.tracer = Tracer(self.spark.sparkContext)
        start = time.perf_counter()
        steal0 = steal_ticks()
        n = 0
        while True:
            traced = bool(self.args.trace) and n % 2 == 1
            order = self.ops()
            if not self.is_load:
                rng.shuffle(order)
            if traced:
                uninstall = install_wrappers(self.tracer)
                try:
                    wall, lat, _ = self.one_pass(order, f"pass{n}", traced)
                finally:
                    uninstall()
                    self.tracer.clear_group()
            else:
                sc = self.spark.sparkContext
                sc.setJobGroup(f"pass{n}", f"pass{n}")
                wall, lat, cpu = self.one_pass(order, f"pass{n}", traced)
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                jobs, tasks = self.spark_work(f"pass{n}")
                self.plain_jobs.append(jobs)
                self.plain_tasks.append(tasks)
            if traced:
                self.traced_pass.append(wall)
                self.traced_lat.extend(lat)
                self.traced_groups.extend(f"pass{n}.{k}" for k in range(len(order)))
                if self.is_load:
                    from layers import dir_stats

                    size, rows, files = dir_stats(self.last_dest[0])
                    self.dest_stats = (size, rows, files + dir_stats(self.last_dest[1])[2])
            else:
                self.plain_pass.append(wall)
                self.plain_lat.extend(lat)
                self.plain_cpu.append(cpu)
            n += 1
            done = time.perf_counter() - start >= self.args.seconds
            if done and (not self.args.trace or n >= 2):
                break
        steal1 = steal_ticks()
        self.steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    def check(self) -> None:
        """Compare outputs with independently computed results."""
        import checks

        if self.is_load:
            import datagen

            merge_dest, insert_dest = self.last_dest
            want = {
                merge_dest: datagen.expected_merge(self.load.dest_seed, self.load.batches),
                insert_dest: datagen.expected_insert_if_absent(self.load.dest_seed, self.load.batches),
            }
            for path, expected in want.items():
                self.attempted += 1
                bad = checks.mismatch(checks.read_destination(path), expected)
                if bad:
                    self.failed += 1
                    self.errors.append(f"check {os.path.basename(path)}: {bad}")
            return
        from etl_java_spark import queries as Q

        duck = checks.open_duckdb(self.data_dir, TABLES)
        try:
            for name in self.ops():
                self.attempted += 1
                try:
                    got = Q.QUERIES[name](self.spark, self.data_dir).toPandas()
                    bad = checks.mismatch(got, duck.execute(Q.ORACLES[name]).fetchdf())
                except Exception as ex:  # a crash is a failed check, not a crashed run
                    bad = f"{type(ex).__name__}: {str(ex)[:300]}"
                if bad:
                    self.failed += 1
                    self.errors.append(f"check {name}: {bad}")
        finally:
            duck.close()

    # -- metrics ------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": _median(self.setup_s),
            "latency_p50_s": _median(self.plain_lat),
            "pass_s": _median(self.plain_pass),
            "pass_cpu_s": _median(self.plain_cpu),
            "spark_jobs_per_pass": _median(self.plain_jobs),
            "spark_tasks_per_pass": _median(self.plain_tasks),
            "heap_live_mb": self.heap_live_mb,
        }

    def report(self, e2e: dict[str, float]) -> None:
        """The named end-to-end figures, one per line."""
        a = self.args
        n_lat = len(self.plain_lat)
        print(
            f"# perfbench workload={a.workload} seed={a.seed} cores={self.cores} "
            f"scale={a.scale} passes={len(self.plain_pass)} samples={n_lat} trace={a.trace}"
        )
        lines = [("setup_s", e2e["setup_s"], "s")]
        if self.is_load:
            rows = sum(len(b) for b in self.load.batches)
            busy = sum(self.plain_lat)
            lines += [
                ("load_batch_p50_s", e2e["latency_p50_s"], "s"),
                ("load_batch_p90_s", _p90(self.plain_lat), "s"),
                ("load_rows_per_s", rows * len(self.plain_pass) / busy if busy else 0.0, "rows/s"),
            ]
        else:
            lines += [
                ("query_p50_s", e2e["latency_p50_s"], "s"),
                ("query_p90_s", _p90(self.plain_lat), "s"),
            ]
        lines += [
            ("pass_s", e2e["pass_s"], "s"),
            ("pass_cpu_s", e2e["pass_cpu_s"], "s"),
            ("host_steal_share", self.steal_share, "fraction"),
            ("spark_jobs_per_pass", e2e["spark_jobs_per_pass"], "jobs"),
            ("spark_tasks_per_pass", e2e["spark_tasks_per_pass"], "tasks"),
            ("error_rate", self.failed / max(1, self.attempted), "fraction"),
            ("peak_rss_mb", self.mem.peak_kb / 1024.0, "MB"),
            ("heap_live_mb", e2e["heap_live_mb"], "MB"),
        ]
        for name, value, unit in lines:
            shown = f"{value:.6g}" if value is not None else f"n/a (needs 100 samples, have {n_lat})"
            print(f"{name} {shown} {unit}")
        for err in self.errors:
            print(f"error {err}")

    def report_trace(self, metrics: dict[str, float]) -> None:
        """Tracing overhead within this run and the span accounting check."""
        lat = _median(self.traced_lat) - _median(self.plain_lat)
        pas = _median(self.traced_pass) - _median(self.plain_pass)
        print(f"trace_overhead op_p50_s {lat:+.6g} s (traced minus untraced passes)")
        print(f"trace_overhead pass_s {pas:+.6g} s (traced minus untraced passes)")
        print("trace_overhead setup_s, peak_rss_mb, heap_live_mb: compare with a --trace 0 run of the same seed")
        unacc = metrics["trace.unaccounted_share"]
        allowed = max(metrics["trace.overhead_share"], 0.0) + 0.02
        verdict = "ok" if abs(unacc) <= allowed else "VIOLATED"
        print(f"span_accounting {verdict}: unaccounted {unacc:.4f} of op time, allowed {allowed:.4f}")
        for name, unit in PER_LAYER.items():
            print(f"{name} {metrics[name]:.6g} {unit}")

    def run(self) -> int:
        # imported here so that their cost counts in the first set-up
        import pyspark  # noqa: F401

        import etl_java_spark.queries  # noqa: F401

        t_imports = time.perf_counter() - T_PROCESS
        phases = {"imports": t_imports}
        clock = time.perf_counter()

        def lap(name: str) -> None:
            nonlocal clock
            now = time.perf_counter()
            phases[name] = now - clock
            clock = now

        self.make_inputs()
        lap("inputs")
        try:
            self.set_up(t_imports)
            lap("setups")
            self.timed()
            lap("timed")
            self.heap_live_mb = self.live_heap_mb()
            lap("heap")
            self.check()
            lap("check")
            app_id = self.spark.sparkContext.applicationId
        finally:
            self.shutdown()
            lap("teardown")
        e2e = self.end_to_end()
        self.report(e2e)
        print("# phases " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()))
        print("# setups " + " ".join(f"{v:.2f}s" for v in self.setup_s) + " warm " + " ".join(f"{v:.2f}s" for v in self.warm_s))
        print("# passes " + " ".join(f"{v:.3f}s" for v in self.plain_pass))
        print("# pass cpu " + " ".join(f"{v:.2f}s" for v in self.plain_cpu))
        print("# pass jobs/tasks " + " ".join(f"{j}/{t}" for j, t in zip(self.plain_jobs, self.plain_tasks)))
        if self.args.trace:
            import layers

            metrics = layers.per_layer(self, app_id)
            units = PER_LAYER
            self.report_trace(metrics)
        else:
            metrics, units = e2e, END_TO_END
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
        print(json.dumps(result), flush=True)
        return 0 if self.failed == 0 else 1


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_java_spark")):
        print(f"error: engine package etl_java_spark not found in {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    # session.py sizes shuffle partitions from this at import time
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        return Bench(args, work, cores).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
