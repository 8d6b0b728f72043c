"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run

1. starts one Spark session on ``local[<half the cores>]`` with a
   fixed JVM heap and otherwise the package's defaults
   (``pig_spark.session``);
2. generates the workload's inputs from ``--seed`` (``gen.py``),
   three times into fresh directories, keeping the last;
3. runs one untimed verification pass that checks every output against
   its DuckDB oracle (``workloads.py``) and warms the JVM, then the
   workload's untimed warm-up passes;
4. runs the number of timed passes (every query once, in order, one at
   a time) that take ``--seconds`` at the workload's nominal pass time,
   timing each query in wall and CPU time and sampling resident memory
   after it;
5. prints a readable report, then one JSON line with the end-to-end
   metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

With ``--trace 1`` the timed passes alternate between untraced and
traced; the traced ones wrap the package's layer entry points
(``tracing.py``) and give every query its own Spark job groups. The
difference between the two pass medians is the tracing overhead.

Everything the run writes stays under ``.perfbench_work/`` (deleted at
exit) and ``.perfbench_out/`` (span dumps) in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark gets half the machine's cores: the rest is headroom for the
# driver, the JIT compiler and GC threads, so that one query's threads
# do not queue for a core behind each other
CORES = max(1, len(os.sched_getaffinity(0)) // 2)
JVM_HEAP = "2g"
GEN_REPEATS = 3
MB = 2**20


def process_age() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# -- process tree memory ---------------------------------------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(stat_path: str, fields: slice) -> int:
    try:
        with open(stat_path, encoding="ascii", errors="replace") as f:
            return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])
    except OSError:
        return 0


def jit_threads() -> list[str]:
    """/proc stat files of the JVM's JIT compiler threads. The JVM runs
    with a fixed set of them (-XX:-UseDynamicNumberOfCompilerThreads),
    so their CPU time never leaves the process with an exiting thread."""
    paths = []
    for pid in descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm", encoding="ascii", errors="replace") as f:
                    if "CompilerThre" in f.read():
                        paths.append(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                pass
    return paths


class CpuClock:
    """CPU seconds (user + system) used so far by this process and its
    descendants, including descendants they have already reaped, and
    the part of it the JVM's JIT compiler threads used. Time the
    hypervisor steals from the machine's virtual CPUs is in neither."""

    def __init__(self) -> None:
        self.jit_paths = jit_threads()
        self.hz = os.sysconf("SC_CLK_TCK")

    def read(self) -> tuple[float, float]:
        pids = [os.getpid(), *descendants(os.getpid())]
        total = sum(_cpu_ticks(f"/proc/{p}/stat", slice(11, 15)) for p in pids)  # utime..cstime
        jit = sum(_cpu_ticks(path, slice(11, 13)) for path in self.jit_paths)
        return total / self.hz, jit / self.hz


def machine_cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine since boot, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


class MemorySampler:
    """High-water resident memory of this process and its descendants
    (the JVM and the Python workers it forks). Long-lived processes
    (this one, the JVM) count by their kernel high-water mark, reset
    when the timed phase starts; short-lived workers by their resident
    size at each sample."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self.peak_parts: dict[int, int] = {}
        self.long_lived: set[int] = set()

    def start(self) -> None:
        self.long_lived = {os.getpid(), *descendants(os.getpid())}
        for pid in self.long_lived:
            try:
                with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
                    f.write("5")  # reset VmHWM to the current VmRSS
            except OSError:
                pass
        self.peak_kb = 0
        self.sample()

    def sample(self) -> None:
        parts = {}
        for pid in [os.getpid(), *descendants(os.getpid())]:
            field = "VmHWM" if pid in self.long_lived else "VmRSS"
            parts[pid] = _status_kb(pid, field)
        total = sum(parts.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_parts = parts


# -- statistics -------------------------------------------------------
def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


# -- the run ------------------------------------------------------------
class Bench:
    def __init__(self, args, work: str, out: str) -> None:
        self.args = args
        self.work = work
        self.out = out
        self.t_start = time.perf_counter() - process_age()
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.memory = MemorySampler()
        self.query_s: list[tuple[str, float]] = []
        self.passes: list[dict] = []

    def log(self, msg: str) -> None:
        print(msg, flush=True)

    # set-up ---------------------------------------------------------
    def start_session(self) -> None:
        from pig_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{CORES}]",
            extra_conf={
                "spark.driver.memory": JVM_HEAP,
                # fixed heap: no resizing decisions that vary run to run;
                # fixed JIT compiler threads, so their CPU time can be told
                # apart from the program's (CpuClock)
                "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -XX:-UseDynamicNumberOfCompilerThreads",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cpu = CpuClock()

    def generate(self) -> None:
        import gen

        self.gen_s = []
        for k in range(GEN_REPEATS):
            self.data = os.path.join(self.work, f"data{k}")
            t0 = time.perf_counter()
            self.manifest = gen.generate(self.args.workload, self.args.seed, self.data)
            self.gen_s.append(time.perf_counter() - t0)
            if k < GEN_REPEATS - 1:
                shutil.rmtree(self.data)

    # one query --------------------------------------------------------
    def run_query(self, q, out_dir: str, tracer=None, qid: str = "") -> None:
        from pig_spark import latin

        sc = self.spark.sparkContext
        if q.build is None:
            script = q.script.format(
                udf=os.path.join(self.data, "bench_udfs.py"), data=self.data, out=out_dir
            )
            if tracer is not None:
                # translation jobs; the multisink wrapper switches to x:
                sc.setJobGroup(f"b:{qid}", qid)
            latin.run(self.spark, script)
            return
        if tracer is None:
            df = q.build(self.spark, self.data)
            df.write.format("noop").mode("overwrite").save()
            return
        from tracing import force_plan

        sc.setJobGroup(f"b:{qid}", qid)
        df = tracer.call("dsl.build", q.build, self.spark, self.data)
        sc.setJobGroup(f"x:{qid}", qid)
        tracer.call("spark.plan", force_plan, df)
        tracer.call("sink", df.write.format("noop").mode("overwrite").save)

    # verification pass ----------------------------------------------
    def verify(self, workload) -> None:
        import duckdb

        from workloads import compare, stored_relation

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb')}'")
        for table in self.manifest["tables"]:
            path = os.path.join(self.data, f"{table}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        out_dir = os.path.join(self.work, "verify")
        for q in workload.queries:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if q.build is not None:
                    path = os.path.join(out_dir, q.name)
                    q.build(self.spark, self.data).write.mode("overwrite").parquet(path)
                    checks = {q.name: (f"read_parquet('{path}/*.parquet')", q.oracle)}
                else:
                    self.run_query(q, out_dir)
                    checks = {
                        store: (stored_relation(out_dir, store), oracle.format(data=self.data))
                        for store, oracle in q.stores.items()
                    }
                problems = [
                    f"{name}: {why}"
                    for name, (rel, oracle) in checks.items()
                    if (why := compare(con, rel, oracle)) is not None
                ]
            except Exception as e:  # a failing query is a result, not a crash
                traceback.print_exc(file=sys.stderr)
                problems = [f"{q.name}: {type(e).__name__}: {str(e)[:200]}"]
            if problems:
                self.failures.append(f"verify {q.name}")
                for p in problems:
                    self.log(f"CHECK FAIL {p}")
            else:
                self.log(f"check ok   {q.name} ({time.perf_counter() - t0:.2f} s)")
        con.close()
        shutil.rmtree(out_dir, ignore_errors=True)

    # timed passes ---------------------------------------------------
    def timed_pass(self, workload, n: int, tracer=None, counters=None) -> dict:
        """Every query once, in order."""
        out_dir = os.path.join(self.work, "out", f"p{n}")
        ticks0 = machine_cpu_ticks()
        layer: dict[str, float] = {}
        pass_s = pass_cpu = pass_jit = rows = 0
        times: list[tuple[str, float, float]] = []
        for q in workload.queries:
            qid = f"{n}:{q.name}"
            self.attempted += 1
            if tracer is not None:
                tracer.qid = qid
                root = tracer.open("query")
            (c0, j0), t0 = self.cpu.read(), time.perf_counter()
            try:
                self.run_query(q, out_dir, tracer, qid)
            except Exception as e:  # a failing query is a result, not a crash
                traceback.print_exc(file=sys.stderr)
                self.failures.append(f"pass {n} {q.name}: {type(e).__name__}")
                dt = None
            else:
                dt = time.perf_counter() - t0
                c1, j1 = self.cpu.read()
                cpu, jit = c1 - c0 - (j1 - j0), j1 - j0
            finally:
                if tracer is not None:
                    tracer.close(root)
            if dt is not None:
                pass_s += dt
                pass_cpu += cpu
                pass_jit += jit
                rows += sum(self.table_rows[t] for t in q.tables)
                times.append((q.name, dt, cpu))
            self.memory.sample()
            if counters is not None:
                groups = {"build": f"b:{qid}", "cc": f"cc:{qid}", "run": f"x:{qid}"}
                for k, v in counters.collect(groups).items():
                    layer[k] = layer.get(k, 0.0) + v
        shutil.rmtree(out_dir, ignore_errors=True)
        sc = self.spark.sparkContext
        cached = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())
        (a0, s0), (a1, s1) = ticks0, machine_cpu_ticks()
        return {
            "pass_s": pass_s, "cpu_s": pass_cpu, "jit_s": pass_jit, "rows": rows,
            "steal": (s1 - s0) / max(1, a1 - a0), "traced": tracer is not None, "times": times,
            "cached_mb": cached / MB, "layer": layer,
        }

    def run(self) -> dict:
        import workloads

        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        self.generate()
        workload = workloads.load(self.args.workload)
        self.table_rows = {t: v["rows"] for t, v in self.manifest["tables"].items()}
        self.log(f"inputs (seed {self.args.seed}): " + ", ".join(
            f"{t} {v['rows']} rows {v['mb']} MB" for t, v in self.manifest["tables"].items()
        ))
        t2 = time.perf_counter()
        self.verify(workload)
        t3 = time.perf_counter()
        for k in range(workload.warmup_passes):
            p = self.timed_pass(workload, -1 - k)
            self.log(f"warm-up pass {k}: {p['pass_s']:.3f} s, {p['cpu_s']:.2f} CPU s + {p['jit_s']:.2f} JIT s")
        self.setup_phases = {
            "start": t0 - self.t_start, "session": t1 - t0, "generate": median(self.gen_s),
            "verify": t3 - t2, "warm-up": time.perf_counter() - t3,
        }
        # process start to the first timed query; the repeated input
        # generation counts once, at its median
        self.setup_s = time.perf_counter() - self.t_start - sum(self.gen_s) + median(self.gen_s)

        tracer = counters = None
        if self.args.trace:
            from tracing import SparkCounters, Tracer

            tracer, counters = Tracer(self.spark), SparkCounters(self.spark)
        self.memory.start()
        ticks0 = machine_cpu_ticks()
        t_end = time.perf_counter() + self.args.seconds

        # Untraced: a fixed number of whole passes, the number that takes
        # --seconds at the workload's nominal pass time, so that every
        # run times the same stretch of the JIT warm-up curve (CPU time
        # keeps falling for many passes while the JIT compiles); cut
        # short only when the passes take twice as long as that.
        planned = max(3, round(self.args.seconds / workload.nominal_pass_s))
        t_cut = t_end + self.args.seconds

        def more() -> bool:
            # Traced: at least untraced, traced, untraced, then while a
            # whole pass still fits in --seconds.
            if tracer is None:
                return n < planned and (n < 2 or time.perf_counter() < t_cut)
            return n < 3 or time.perf_counter() + self.passes[-1]["pass_s"] <= t_end

        n = 0
        while more():
            # traced passes sit between untraced ones, so the overhead
            # estimate is not biased by the JVM still warming up
            traced = tracer is not None and n % 2 == 1
            if traced:
                tracer.counts.clear()
                tracer.install()
            try:
                p = self.timed_pass(
                    workload, n, tracer if traced else None, counters if traced else None,
                )
            finally:
                if traced:
                    tracer.uninstall()
            if traced:
                p["layer"].update(tracer.counts)
                p["spans"] = self.pass_spans(tracer, n)
            self.passes.append(p)
            self.log(f"pass {n}{' traced' if traced else ''}: {p['pass_s']:.3f} s, {p['cpu_s']:.2f} CPU s + {p['jit_s']:.2f} JIT s, "
                     f"steal {p['steal'] * 100:.1f}%; " + ", ".join(f"{q} {w:.3f}/{c:.2f}" for q, w, c in p["times"]))
            n += 1
        (a0, s0), (a1, s1) = ticks0, machine_cpu_ticks()
        self.steal_frac = (s1 - s0) / max(1, a1 - a0)
        if tracer is not None:
            os.makedirs(self.out, exist_ok=True)
            tracer.dump(os.path.join(self.out, f"spans-{self.args.workload}-{self.args.seed}.json"))
        return self.result()

    @staticmethod
    def pass_spans(tracer, n: int) -> dict[str, float]:
        """Per-pass span totals: duration per span name, plus the
        derived self times the per-layer metrics need."""
        tot: dict[str, float] = {}
        prefix = f"{n}:"
        for i, s in enumerate(tracer.spans):
            if not s.qid.startswith(prefix):
                continue
            tot[s.name] = tot.get(s.name, 0.0) + s.duration
            tot[s.name + "#n"] = tot.get(s.name + "#n", 0) + 1
            if s.name == "dsl.build":
                tot["dsl.build_self"] = tot.get("dsl.build_self", 0.0) + tracer.self_time(i)
            if s.name == "latin.run":
                stores = sum(
                    tracer.spans[c].duration
                    for c in s.children
                    if tracer.spans[c].name == "operators.multisink"
                )
                tot["latin.translate"] = tot.get("latin.translate", 0.0) + s.duration - stores
        return tot

    # results ----------------------------------------------------------
    def result(self) -> dict:
        untraced = [p for p in self.passes if not p["traced"]]
        self.query_s = [t for p in untraced for t in p["times"]]
        # percentiles over each query's median time: every query weighs
        # the same however many times the window let it run
        wall = [median(ts) for ts in self.by_query(1).values()]
        cpu = [median(ts) for ts in self.by_query(2).values()]
        rows = sum(p["rows"] for p in untraced)
        failed = len(self.failures)
        self.log(f"workload {self.args.workload}: {len(self.passes)} timed passes, "
                 f"{len(self.query_s)} timed queries, {self.attempted} attempted, {failed} failed")
        for f in self.failures:
            self.log(f"  failed: {f}")
        self.log_drift()
        self.log(f"steal: {self.steal_frac * 100:.1f}% of the machine's CPU time during the timed passes")
        if self.args.trace:
            metrics = self.layer_metrics()
        else:
            # The metrics a change is judged by count CPU time, not wall
            # time: on a shared virtual machine, time stolen by the host
            # lengthens the wall time of whatever runs but is not charged
            # to the process. Wall-time figures are printed alongside.
            metrics = {
                "setup_s": (self.setup_s, "s"),
                "rows_per_cpu_s": (rows / sum(p["cpu_s"] for p in untraced), "rows/cpu-s"),
                "query_cpu_p50_s": (median(cpu), "cpu-s"),
                "query_cpu_p90_s": (p90(cpu), "cpu-s"),
                "peak_rss_mb": (self.memory.peak_kb / 1024, "MB"),
            }
            wall_figures = {
                "rows_per_s": (rows / sum(p["pass_s"] for p in untraced), "rows/s"),
                "query_p50_s": (median(wall), "s"),
                "query_p90_s": (p90(wall), "s"),
            }
            self.log("  setup phases: " + ", ".join(f"{k} {v:.2f} s" for k, v in self.setup_phases.items()))
            for name, (value, unit) in wall_figures.items():
                self.log(f"  {name:<28} {value:.6g} {unit} (wall time, not in the JSON line)")
            self.log(f"  {'failed_frac':<28} {failed / self.attempted:.4f} ratio "
                     f"({failed} of {self.attempted} query runs)")
        for name, (value, unit) in metrics.items():
            self.log(f"  {name:<28} {value:.6g} {unit}")
        self.log("  peak_rss_mb by process: " + ", ".join(
            f"{pid} {kb / 1024:.0f}" for pid, kb in sorted(self.memory.peak_parts.items(), key=lambda x: -x[1])))
        self.log(f"  samples: {len(self.query_s)} query times of {len(wall)} queries "
                 f"over {len(untraced)} untraced passes, {rows} logical input rows")
        return {
            "correct": not failed,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def by_query(self, field: int) -> dict[str, list[float]]:
        """Each query's samples of one field of ``query_s``: 1 for wall
        time, 2 for CPU time."""
        out: dict[str, list[float]] = {}
        for t in self.query_s:
            out.setdefault(t[0], []).append(t[field])
        return out

    def log_drift(self) -> None:
        """First half of the timed query samples against the second
        half, each sample relative to its query's median time; and the
        MB held by persisted RDDs after each pass."""
        for field, what in ((1, "wall"), (2, "CPU")):
            by_query = self.by_query(field)
            rel = [t[field] / median(by_query[t[0]]) for t in self.query_s]
            half = len(rel) // 2
            if half:
                first, second = median(rel[:half]), median(rel[-half:])
                self.log(f"drift: second half of timed queries {(second / first - 1) * 100:+.1f}% "
                         f"{what} time against the first ({half} samples each)")
        self.log("cached MB after each pass: " + " ".join(f"{p['cached_mb']:.1f}" for p in self.passes))

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        traced = [p for p in self.passes if p["traced"]]
        untraced = [p["pass_s"] for p in self.passes if not p["traced"]]

        def med(fn) -> float:
            return median([fn(p, p["layer"], p["spans"]) for p in traced])

        def frac(a: float, b: float) -> float:
            return a / b if b else 0.0

        latin = self.args.workload == "latin_etl"
        build = "latin.translate" if latin else "dsl.build"
        m = {
            "latin.translate_s": (med(lambda p, l, s: s.get("latin.translate", 0.0)), "s"),
            "latin.scripts": (med(lambda p, l, s: s.get("latin.run#n", 0)), "count"),
            "dsl.build_s": (med(lambda p, l, s: s.get(build, 0.0)), "s"),
            "dsl.build_self_s": (med(lambda p, l, s: s.get("dsl.build_self", s.get(build, 0.0))), "s"),
            "dsl.build_jobs": (med(lambda p, l, s: l.get("build_jobs", 0) + l.get("cc_jobs", 0)), "count"),
            "sources.load_s": (med(lambda p, l, s: s.get("sources.load", 0.0)), "s"),
            "sources.load_calls": (med(lambda p, l, s: s.get("sources.load#n", 0)), "count"),
            "sources.store_s": (med(lambda p, l, s: s.get("sources.store", 0.0)), "s"),
            "sources.store_mb": (med(lambda p, l, s: l.get("sources.store_bytes", 0) / MB), "MB"),
            "operators.multisink_s": (med(lambda p, l, s: s.get("operators.multisink", 0.0)), "s"),
            "operators.shared_subplans": (med(lambda p, l, s: l.get("operators.shared_subplans", 0)), "count"),
            "operators.cc_s": (med(lambda p, l, s: s.get("operators.cc", 0.0)), "s"),
            "operators.cc_jobs": (med(lambda p, l, s: l.get("cc_jobs", 0)), "count"),
            "udf.python_rows": (med(lambda p, l, s: l.get("python_rows", 0)), "count"),
            "udf.python_mb": (med(lambda p, l, s: l.get("python_bytes", 0) / MB), "MB"),
            "spark.plan_s": (med(lambda p, l, s: s.get("spark.plan", 0.0)), "s"),
            "spark.jobs": (med(lambda p, l, s: l.get("jobs", 0)), "count"),
            "spark.stages": (med(lambda p, l, s: l.get("stages", 0)), "count"),
            "spark.tasks": (med(lambda p, l, s: l.get("tasks", 0)), "count"),
            "spark.skipped_stage_frac": (
                med(lambda p, l, s: frac(l.get("skipped_stages", 0), l.get("stages", 0))), "ratio"),
            "spark.scheduler_delay_s": (med(lambda p, l, s: l.get("scheduler_delay_s", 0.0)), "s"),
            "spark.executor_cpu_s": (med(lambda p, l, s: l.get("executor_cpu_s", 0.0)), "s"),
            "spark.cpu_busy_frac": (
                med(lambda p, l, s: frac(l.get("executor_cpu_s", 0.0), p["pass_s"] * CORES)), "ratio"),
            "spark.gc_s": (med(lambda p, l, s: l.get("gc_s", 0.0)), "s"),
            "spark.input_mb": (med(lambda p, l, s: l.get("input_bytes", 0) / MB), "MB"),
            "spark.input_rows": (med(lambda p, l, s: l.get("input_records", 0)), "count"),
            "spark.shuffle_write_mb": (med(lambda p, l, s: l.get("shuffle_write_bytes", 0) / MB), "MB"),
            "spark.spill_mb": (med(lambda p, l, s: l.get("spill_bytes", 0) / MB), "MB"),
            "spark.failed_tasks": (med(lambda p, l, s: l.get("failed_tasks", 0)), "count"),
            "spark.cached_mb_end": (self.passes[-1]["cached_mb"], "MB"),
            "process.cpu_s": (med(lambda p, l, s: p["cpu_s"]), "s"),
            "jvm.jit_cpu_s": (med(lambda p, l, s: p["jit_s"]), "s"),
            "trace.pass_s": (med(lambda p, l, s: p["pass_s"]), "s"),
            "trace.overhead_s": (med(lambda p, l, s: p["pass_s"]) - median(untraced), "s"),
        }
        return m

    # teardown ---------------------------------------------------------
    def close(self) -> None:
        """Stop Spark and wait until every process this run started
        (the JVM, the Python worker daemon and its workers) has ended."""
        procs = descendants(os.getpid())
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None and proc.stdin is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while procs and time.monotonic() < deadline:
            procs = [p for p in procs if os.path.exists(f"/proc/{p}") and not _zombie(p)]
            time.sleep(0.1)
        for p in procs:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for p in procs:
            try:
                os.waitpid(p, 0)
            except ChildProcessError:
                pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return True
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)  # reap our own child
        except ChildProcessError:
            pass
        return True
    return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=["pigmix", "corpus", "latin_etl"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pig_spark", "__init__.py")):
        print(f"perfbench: no pig_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "duckdb"):
        os.makedirs(os.path.join(work, sub))
    # every temporary file of this process, the JVM and its workers
    # lands inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    bench = Bench(args, work, os.path.join(ROOT, ".perfbench_out"))
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other workload's run is using it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
