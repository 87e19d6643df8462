"""sparvi benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload dq --seed 1 --seconds 1 --trace 0

Run from the repository root. The run generates the workload's inputs
from the seed, sets up a Spark session once to launch the JVM and then
again at least three times (``setup_s`` is the median of those, in
reference seconds), runs one untimed warm-up cycle, then runs cycles
until ``--seconds`` have passed; each call starts after the previous
returned.
Every output is checked. With ``--trace 1`` the run sets up once, and
after the warm-up runs one cycle in a new session and then one in a new
session with Spark's event log on, whose jobs and tasks it folds into
per-call statistics (see eventlog.py). METRICS.md describes it all.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics without tracing, per-call
layer metrics with it). The lines before it print every figure by name
with its unit and sample count. Exit code 1 means a wrong output.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The first set-up of a run launches the JVM; it is printed as
# setup_cold_s. setup_s is the median of the warm set-ups after it (in
# reference seconds, see CALIBRATION_REF_S), repeated until there are
# SETUP_MIN_REPS and they took SETUP_MIN_S in all: a dq set-up takes
# 0.25-0.45 s and speeds up over its first few repetitions as the JVM
# compiles it, so dq repeats it about six times; an ingest set-up takes
# 1.5-3 s and runs three times.
SETUP_MIN_REPS = 3
SETUP_MIN_S = 2.0
# Row counts of the calibration's Spark jobs. The calibration runs no
# sparvi code, so a change to the package leaves it alone while a slow
# or busy host slows it like the calls around it. The calls mix long
# compute tasks with trains of short jobs, so the calibration does both:
# one job of about 0.2 s of JVM codegen work on 4 cores, then four jobs
# of about 0.1 s each, most of it the per-job floor.
CALIBRATION_ROWS = (50_000_000,) + (4_000_000,) * 4
# Untimed calibration runs after the warm-up cycle: the first few runs
# in a session are up to twice as slow while the JVM compiles them.
CALIBRATION_WARMUP = 3
# Calibration runs before each measured call and after the last: one
# run moves by about 12% from the next, so the divisor is the median of
# a cycle's ten runs.
CALIBRATION_RUNS = 2
# setup_s is in reference seconds: the set-up time on a host where one
# calibration run takes this long, about what it takes on an idle
# 4-vCPU VM. A sub-second set-up moved by 50% between two sets of runs
# on a shared host, the same as the calibration, while their ratio
# moved by 6%.
CALIBRATION_REF_S = 0.5


def machine() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "ram_mb": mem_kb // 1024,
            "python": platform.python_version()}


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    """One run: the session, the tracer, and the call counters."""

    def __init__(self, workload, work_dir: str, info: dict):
        from eventlog import Tracer

        self.workload = workload
        self.work_dir = work_dir
        self.info = info
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.cals: list[float] = []  # calibration times around measured calls

    def call(self, span: str, fn, check) -> None:
        """Time ``fn`` in a span, then check its output outside it. A
        measured call follows CALIBRATION_RUNS runs of the calibration."""
        if self.tracer.phase == "measure":
            self.calibrate_runs()
        self.attempted += 1
        try:
            with self.tracer.span(span):
                out = fn()
            problem = check(out)
        except Exception:  # a failed call is counted, the loop goes on
            problem = traceback.format_exc(limit=3)
        if problem:
            self.failed += 1
            self.problems.append(f"{span}: {problem}")

    def start_session(self, event_log: str | None):
        from sparvi_core_spark import get_spark

        nproc = self.info["nproc"]
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # the driver is the executor in local mode: a quarter of
            # RAM, at most 2 GiB (ample for these inputs), leaves room
            # for the Python workers; a larger heap only lets peak RSS
            # wander with the collector's sizing
            "spark.driver.memory": f"{min(2048, self.info['ram_mb'] // 4)}m",
            # G1 sizes its heap by pause timing, so the JVM's peak RSS
            # moved by 9-17% between seeds; the serial collector grows
            # the heap with the live data (2-6% between seeds), and the
            # cycles took as long
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work_dir}/tmp -XX:+UseSerialGC",
            "spark.local.dir": f"{self.work_dir}/spark-local",
            "spark.sql.warehouse.dir": f"{self.work_dir}/warehouse",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
            })
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload.name}",
                                   master=f"local[{nproc}]",
                                   shuffle_partitions=nproc, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, phase: str, event_log: str | None = None) -> float:
        self.stop_session()
        self.tracer.phase, self.tracer.cycle = phase, -1
        t0 = time.time()
        self.start_session(event_log)
        self.workload.setup(self.spark, self)
        return time.time() - t0

    def loop(self, phase: str, seconds: float, first_cycle: int) -> int:
        """Closed loop: cycles back to back until ``seconds`` have passed
        (the last cycle runs to its end). Returns the next cycle index."""
        self.tracer.phase = phase
        i, t0 = first_cycle, time.time()
        while True:
            self.tracer.cycle = i
            self.workload.cycle(self.spark, self, i)
            i += 1
            if time.time() - t0 >= seconds:
                return i

    def calibrate_runs(self) -> None:
        self.cals += [self.calibrate() for _ in range(CALIBRATION_RUNS)]

    def calibrate(self) -> float:
        """Seconds for the fixed calibration jobs."""
        t0 = time.time()
        for rows in CALIBRATION_ROWS:
            self.spark.range(0, rows, 1, self.info["nproc"]).selectExpr(
                "sum(xxhash64(id) % 1000003L)").collect()
        return time.time() - t0

    def jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()


def print_table(title: str, rows: list[tuple]) -> None:
    print(title)
    print(f"  {'metric':<52} {'value':>16} {'unit':<8} {'n':>4}")
    for name, value, unit, n in rows:
        print(f"  {name:<52} {value:>16.6g} {unit:<8} {n:>4}")


def end_to_end(bench, cold: float, setups: list[float]) -> dict:
    wl, tr, cals = bench.workload, bench.tracer, bench.cals
    cycles = tr.cycle_walls("measure")
    # the median cycle over the median of the calibration runs made
    # between its calls: one calibration run is too short to be steady
    cal = statistics.median(cals)
    cycle_norm = statistics.median(cycles) / cal
    setup = statistics.median(setups)
    rows = [("setup_s", setup * CALIBRATION_REF_S / cal, "s", len(setups)),
            ("setup_wall_s", setup, "s", len(setups)),
            ("setup_cold_s", cold, "s", 1),
            ("cycle_norm", cycle_norm, "ratio", len(cycles)),
            ("cycle_s", statistics.median(cycles), "s", len(cycles)),
            ("calibration_s", statistics.median(cals), "s", len(cals))]
    for span, name in wl.calls:
        walls = tr.walls(span, "measure")
        med = statistics.median(walls)
        if name.endswith("_docs_per_s"):
            rows.append((name, wl.n_docs / med, "docs/s", len(walls)))
        else:
            rows.append((name, med, "s", len(walls)))
    rows.append(("fail_ratio", bench.failed / max(bench.attempted, 1),
                 "ratio", bench.attempted))
    rows.append(("peak_rss_mb", bench.info["peak_rss_mb"], "MB", 1))
    print_table(f"end-to-end ({wl.name})", rows)
    return {name: {"value": value, "unit": unit}
            for name, value, unit, _ in rows
            if name in ("setup_s", "cycle_norm", "peak_rss_mb")}


def per_layer(bench, log_dir: str) -> dict:
    from eventlog import STATS, fold, read_log, unattributed_jobs

    wl, tr = bench.workload, bench.tracer
    traced = [s for s in tr.spans if s.phase == "traced"]
    jobs, tasks = read_log(log_dir)
    folded = fold(traced, jobs, tasks)
    stray = unattributed_jobs(traced, jobs)
    rows, metrics, overheads = [], {}, []
    calls = [s for s, _ in wl.calls]
    for k, span in enumerate(calls, 1):
        occ = folded[span]
        stats = {stat: statistics.median(o[stat] for o in occ)
                 for stat in STATS}
        stats["job_outside_s"] = max(o["job_outside_s"] for o in occ)
        if stats["job_outside_s"] > 0:
            print(f"TRACE: {span} jobs ran {stats['job_outside_s']:.3f} s "
                  "past the span; driver_s is too high by that much")
        stats["trace_overhead"] = stats["wall_s"] / statistics.median(
            tr.walls(span, "reference"))
        overheads.append(stats["trace_overhead"])
        rows += [(f"{span}.{stat}", v, _unit(stat), len(occ))
                 for stat, v in stats.items()]
        # gc_s is printed only: it reads 0.0 on many short calls
        metrics.update({f"call{k}.{stat}": {"value": stats[stat],
                                            "unit": _unit(stat)}
                        for stat in STATS + ("trace_overhead",)
                        if stat != "gc_s"})
    for span in sorted({s.name for s in tr.spans
                        if s.phase == "traced_setup"}):
        walls = tr.walls(span, "traced_setup")
        rows.append((f"{span}.wall_s", statistics.median(walls), "s",
                     len(walls)))
    for span in ("session.get_spark", "session.register_views"):
        metrics[f"{span}.wall_s"] = {
            "value": statistics.median(tr.walls(span, "traced_setup")),
            "unit": "s"}
    rows.append((f"{wl.name}.trace_overhead", statistics.median(overheads),
                 "ratio", len(overheads)))
    rows.append((f"{wl.name}.unattributed_jobs", len(stray), "count",
                 len(jobs)))
    for j in stray:
        print(f"TRACE: job submitted at {j.submit_ms} ms is in no span")
    print_table(f"per-layer ({wl.name}, traced); result line: call<k> is "
                "the k-th call span", rows)
    return metrics


def _unit(stat: str) -> str:
    if stat.endswith("_s"):
        return "s"
    if stat.endswith("_bytes"):
        return "bytes"
    if stat in ("cpu_share", "trace_overhead"):
        return "ratio"
    return "count"


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> int:
    import workloads

    info = machine()
    work_dir = os.path.join(ROOT, ".perfbench_work",
                            f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    # Python workers inherit this process's environment: they must
    # import the package from this checkout and write only inside it.
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    wl = workloads.WORKLOADS[args.workload](args.seed,
                                            os.path.join(work_dir, "data"))
    bench = Bench(wl, work_dir, info)
    try:
        t0 = time.time()
        info["input_digest"] = wl.generate()
        info["generate_s"] = time.time() - t0
        cold = bench.setup("setup")
        setups: list[float] = []
        # a traced run reports no setup_s: it sets up once
        while not args.trace and (len(setups) < SETUP_MIN_REPS
                                  or sum(setups) < SETUP_MIN_S):
            setups.append(bench.setup("setup"))
        spark = bench.spark
        info["spark"] = spark.version
        info["java"] = spark._jvm.java.lang.System.getProperty("java.version")
        # the first cycle of a JVM compiles every plan it runs: untimed
        t0 = time.time()
        cycle = bench.loop("warmup", 0, 0)
        for _ in range(CALIBRATION_WARMUP):
            bench.calibrate()
        info["warmup_s"] = time.time() - t0
        if args.trace:
            # the first cycle of a fresh session, untraced, then the same
            # in a session with the event log on: their ratio is the
            # tracing overhead
            bench.setup("reference_setup")
            cycle = bench.loop("reference", 0, cycle)
            log_dir = os.path.join(work_dir, "eventlog")
            bench.setup("traced_setup", event_log=log_dir)
            bench.loop("traced", 0, cycle)
        else:
            steal0 = cpu_steal()
            bench.loop("measure", args.seconds, cycle)
            bench.calibrate_runs()
            steal1 = cpu_steal()
            info["steal_share"] = ((steal1[0] - steal0[0])
                                   / max(steal1[1] - steal0[1], 1))
        info["peak_rss_driver_mb"] = vm_hwm_mb("self")
        info["peak_rss_jvm_mb"] = vm_hwm_mb(bench.jvm_pid())
        info["peak_rss_mb"] = (info["peak_rss_driver_mb"]
                               + info["peak_rss_jvm_mb"])
        bench.stop_session()
        print(json.dumps({"workload": wl.name, "seed": args.seed,
                          "seconds": args.seconds, "trace": args.trace,
                          **info}))
        metrics = (per_layer(bench, log_dir) if args.trace
                   else end_to_end(bench, cold, setups))
    finally:
        bench.stop_session()
        shutdown_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:  # another run still uses it
            pass
    for p in bench.problems:
        print("WRONG:", p)
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted,
                      "failed": bench.failed,
                      "metrics": metrics}), flush=True)
    return 1 if bench.failed else 0


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    import sparvi_core_spark  # noqa: F401  fails fast outside a checkout
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
