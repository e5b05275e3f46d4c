"""Shared pieces of the benchmark: the run directory, the Spark session
it measures, process memory read from /proc, and small statistics."""

from __future__ import annotations

import math
import os
import platform
import subprocess
import sys
import time

#: local[k] cores: half the box, so the JVM's compiler and collector
#: threads and the Python driver do not take time from tasks
CORES = max(1, (os.cpu_count() or 2) // 2)
#: BLAS threads: the solvers' products are a few thousand rows by rank
#: 5-8, too small for threads to pay
BLAS_THREADS = 1
#: scale factor of the generated star-schema fixture
SCALE_FACTOR = 0.01
#: JVM heap of the Spark driver, committed and touched at start so that
#: the process's resident size does not follow garbage-collector timing
DRIVER_MEMORY = "1g"
#: JIT compiler threads that never exit, so that ``cpu_s`` can tell
#: their time from the rest of the JVM's
JVM_OPTIONS = "-XX:-UseDynamicNumberOfCompilerThreads"


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    s = sorted(values)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def _process_tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (those after the command name) of this
    process and of every process it started, directly or not."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return tree


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this process plus every process it started
    (the Spark JVM and its Python workers), each at its own peak."""
    return sum(_peak_rss_kb(p) for p in _process_tree()) / 1024.0


_CLOCK_TICK = os.sysconf("SC_CLK_TCK")


def _ticks(fields: list[str], children: bool) -> int:
    """utime + stime, and with ``children`` also cutime + cstime."""
    return sum(int(x) for x in fields[11:15 if children else 13])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of process ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        name = raw[raw.index("(") + 1 : raw.rindex(")")]
        if "CompilerThre" in name:
            total += _ticks(raw.rsplit(")", 1)[1].split(), children=False)
    return total


def cpu_s() -> tuple[float, float]:
    """CPU seconds used so far by this process and every process it
    started (the Spark JVM and its Python workers), as ``(engine, jit)``:
    ``jit`` is the time of the JVM's JIT compiler threads, ``engine``
    all the rest, with the children that have ended.

    The benchmark's timings are differences of ``engine``, not of wall
    time. On a shared host other tenants stretch the wall time of a run
    by 10-50% for minutes at a time; the CPU time the engine needs for
    the same work moves far less, because time spent waiting for a core,
    or given to another guest (steal), is not charged to the process.
    (It still moves: a core shared with a busy neighbour runs slower.)
    The JIT compiler's time is left out because it is warm-up whose
    amount and timing differ from run to run; telling it apart needs the
    compiler threads to live as long as the JVM (``JVM_OPTIONS``)."""
    total = jit = 0
    for pid, fields in _process_tree().items():
        total += _ticks(fields, children=True)
        if pid != os.getpid():
            jit += _jit_ticks(pid)
    return (total - jit) / _CLOCK_TICK, jit / _CLOCK_TICK


def cpu_times() -> list[int]:
    """The box's aggregate CPU jiffies from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` readings."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(sum(delta), 1)


def cpu_token() -> float:
    """Best-of-3 wall of a fixed numpy job: read at the start and the end
    of a run, it shows whether the box ran slower than usual meanwhile."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((256, 256))
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        for _ in range(20):
            a @ a
        best = min(best, time.perf_counter() - t)
    return best


def run_record(seed: int, sf_dir: str) -> dict:
    """What a reader needs to tell a contended or odd run from a normal
    one."""
    import numpy as np
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": f"local[{CORES}]",
        "blas_threads": BLAS_THREADS,
        "loadavg_start": list(os.getloadavg()),
        "cpu_token_start_s": cpu_token(),
        "python": sys.version.split()[0],
        "numpy": np.__version__,
        "pyspark": pyspark.__version__,
        "platform": platform.platform(),
        "sf": SCALE_FACTOR,
        "sf_dir": sf_dir,
        "seed": seed,
    }


class SparkRun:
    """One Spark session for a benchmark run, with all of its files inside
    the run directory and its JVM stopped and reaped on ``close``."""

    def __init__(self, work_dir: str, event_log: bool) -> None:
        self.work_dir = work_dir
        self.event_log_dir = os.path.join(work_dir, "eventlog") if event_log else None
        self.spark = None

    def start(self):
        from limeqo_spark.session import get_spark

        local = os.path.join(self.work_dir, "spark-local")
        os.makedirs(local, exist_ok=True)
        conf = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch {JVM_OPTIONS}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log_dir:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
            })
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
        self.spark = get_spark(
            "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def java_version(self) -> str:
        return self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then shut the JVM down and wait for it."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception as e:  # noqa: BLE001 — the JVM may already be gone
            print(f"gateway shutdown: {e!r}", file=sys.stderr)
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def warm_up(spark) -> None:
    """First action of a fresh session: loads the SQL engine classes and
    codegen paths every workload needs."""
    spark.range(200_000).selectExpr("sum(id)").collect()


def now() -> float:
    return time.perf_counter()


def iterations(seconds: float, nominal_s: float, at_least: int) -> int:
    """How many units of work fill a window of ``seconds``, from the
    unit's nominal wall on a 4-core box. The count depends on the window
    only, never on how fast this run goes: every run then does the same
    work behind the same warm-up, and a slower engine shows as slower
    units, not as fewer of them."""
    return max(at_least, round(seconds / nominal_s))


def measure(count: int, step, tracer=None, install=None) -> None:
    """Run ``step(traced)`` ``count`` times, closed-loop with one client.
    Untraced runs call ``step(False)`` only. Traced runs make four calls,
    untraced-traced-traced-untraced, installing the layer wrappers for the
    traced ones: both kinds then sit at the same average point of the
    warm-up, and their difference is the tracing overhead."""
    if tracer is None:
        for _ in range(count):
            step(False)
        return
    for traced in (False, True, True, False):
        if traced:
            install()
        try:
            step(traced)
        finally:
            tracer.unpatch()
