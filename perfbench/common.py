"""Run context shared by the workloads: the Spark session, the tracer, the
work directory inside the checkout, timing helpers and the result record."""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import shutil
import statistics
import subprocess
import tempfile
import time
import traceback
from contextlib import contextmanager

from spans import Tracer, event_log_conf

DRIVER_MEMORY = "3g"


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{round(v, 6) + 0.0:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def same_rows(cols_a, rows_a, cols_b, rows_b) -> bool:
    """Order-insensitive equality of two result sets after the oracle
    differential's normalization (decimals as floats, floats to 6 dp, NaN as
    NULL, bool as 0/1), with columns matched by name."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted("|".join(_norm(r[i]) for i in order) for r in rows)

    return canon(cols_a, rows_a) == canon(cols_b, rows_b)


def _tree_pids(pid: int) -> list[int]:
    out = [pid]
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                for c in f.read().split():
                    out += _tree_pids(int(c))
    except OSError:
        pass
    return out


def peak_rss_mb() -> float:
    """Sum of the high-water RSS (VmHWM) of this process and every process
    it started (the Spark JVM and its Python workers)."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def host_cpu() -> list[int]:
    """Aggregate CPU tick counters of the host (user, nice, system, idle,
    iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU ticks between two :func:`host_cpu` samples
    that the hypervisor stole."""
    ticks = [b - a for a, b in zip(before, after)]
    return ticks[7] / max(1, sum(ticks))


def calibration_s(reps: int = 3) -> float:
    """Median seconds of a fixed single-threaded Python loop: a yardstick
    of the machine's speed at this moment, recorded beside the results."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(250_000):
            acc += i * i % 7
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


_CLK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every process it
    started that is still alive."""
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return total / _CLK


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def source_digest(root: str) -> str:
    """Short SHA-256 of the Python sources of the library, ``bench.py`` and
    the benchmark: which code ran, also in a checkout that is not a git
    repository."""
    h = hashlib.sha256()
    files = [os.path.join(root, "bench.py")]
    for sub in ("demo_bigdata_spark", "perfbench"):
        for d, _, names in os.walk(os.path.join(root, sub)):
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class Context:
    """One benchmark run. ``work`` is a private directory under the
    checkout's ``.perfbench/`` that :meth:`cleanup` removes; ``state`` keeps
    files that outlive the run (trace dumps, the last untraced result)."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.state = os.path.join(root, ".perfbench")
        self.work = os.path.join(self.state, f"run-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        # temp files of this process, the JVM and Spark's Python workers
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        tempfile.tempdir = None
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.tracer: Tracer | None = None
        self.t_setup0 = time.perf_counter()
        self.cpu_setup0 = tree_cpu_s()
        self.setup_s = 0.0
        self.setup_wall_s = 0.0
        self.window: tuple[float, float] | None = None
        self.op_errors = 0
        self.regions: list[dict] = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def start_spark(self):
        """Start the session under the ``session.get_spark`` span. The
        span list exists before the session, so the tracer is created
        disabled and switched on once the context exists."""
        from demo_bigdata_spark.session import get_spark

        self.tracer = Tracer(None, enabled=False)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("tmp")
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": self.path("tmp"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # C1-only JIT: under tiered C2 a fresh JVM keeps getting faster
            # for minutes (an ingest epoch went 8.9 s -> 6.0 s over eleven
            # epochs), so no run that fits the budget is steady; with C1 the
            # first epoch after warm-up is already at the plateau. A code
            # cache large enough that C1 never stops compiling in a long
            # traced run. No hsperfdata file in the system temp directory.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:TieredStopAtLevel=1"
                " -XX:ReservedCodeCacheSize=256m -XX:-UsePerfData"
            ),
        }
        if self.trace:
            conf.update(event_log_conf(self.path("eventlog")))
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}", extra_conf=conf
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        self.tracer.enabled = self.trace
        return self.spark

    @contextmanager
    def timed(self, kind: str):
        """Record one measured region's wall seconds, the CPU seconds its
        process tree used (cycles the host steals lengthen the first, not
        the second), and its steal-adjusted wall seconds ``adj_s``: wall
        seconds times the share of the host's CPU ticks that were not
        stolen meanwhile."""
        rec = {"kind": kind, "cpu0": tree_cpu_s()}
        host0 = host_cpu()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - rec.pop("cpu0")
            rec["steal_frac"] = steal_frac(host0, host_cpu())
            rec["adj_s"] = rec["wall_s"] * (1.0 - rec["steal_frac"])
            self.regions.append(rec)

    def end_setup(self):
        """Set-up ends: record its CPU seconds (the reported ``setup_s``)
        and its wall seconds."""
        self.setup_s = tree_cpu_s() - self.cpu_setup0
        self.setup_wall_s = time.perf_counter() - self.t_setup0

    def timed_loop(self, step, min_ops: int, max_ops: int) -> int:
        """Closed loop, one client: call ``step(i)`` until ``seconds`` have
        passed and at least ``min_ops`` ran (or ``max_ops`` ran). Returns
        the number of operations run."""
        t0 = time.perf_counter()
        i = 0
        while i < max_ops and (i < min_ops or time.perf_counter() - t0 < self.seconds):
            self.tracer.op = i
            try:
                step(i)
            except Exception:  # an operation that raises counts as failed
                traceback.print_exc()
                self.op_errors += 1
            i += 1
        self.tracer.op = None
        return i

    def run_info(self) -> dict:
        import duckdb
        import pyspark

        return {
            "workload": self.workload,
            "seed": self.seed,
            "traced": self.trace,
            "seconds": self.seconds,
            "SPARK_GRAFT_CPUS": self.cores,
            "nproc": os.cpu_count(),
            "driver_memory": DRIVER_MEMORY,
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "git_commit": git_commit(self.root),
            "source_digest": source_digest(self.root),
        }

    def close(self):
        """Stop the session, then the JVM it started, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    def cleanup(self):
        shutil.rmtree(self.work, ignore_errors=True)
