"""Process-level plumbing: the Spark session, its shutdown, memory and
CPU-time accounting, and the untimed isolation step between timed
operations."""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.getcwd()


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``, put the package
    on the path of the driver and of Spark's Python workers (the
    DataSource runner imports ``hermod_spark``), and the repository's
    scripts on the driver's path (the oracle compare)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    for p in (os.path.join(ROOT, "scripts"), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(work: str):
    """The engine's own session factory with explicit overrides for a
    small box: local[nproc], one shuffle partition per core, a 3 GB
    driver heap committed and touched at start-up, so that heap growth
    and GC timing do not move the memory figure, and a fixed set of JIT
    compiler threads, so that ``jit_cpu_seconds`` sees all of their CPU
    time (a compiler thread that exits takes its count out of the
    thread list)."""
    from hermod_spark.session import get_spark

    cpus = ncpus()
    spark = get_spark(
        "hermod-perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                "-Xms3g -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - shutdown is best effort; the wait below decides
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def quiesce(spark) -> None:
    """Untimed Python + JVM garbage collection between timed operations,
    so one operation's dead blocks are not billed to the next."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _proc_tree(root_pid: int) -> tuple[int, float]:
    """(RSS in kB, CPU seconds) of ``root_pid`` and every process under
    it. CPU is user + system time of each process and of the children
    it has reaped (Spark's exited Python workers). The kernel accounts
    time stolen by the hypervisor apart, so CPU time, unlike wall time,
    does not grow when other guests of a shared host take the cores."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[str, int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                comm, rest = fh.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:
            continue
        # fields[1] is ppid; [11:15] utime, stime, cutime, cstime; [21] rss pages
        fields = rest.split()
        children.setdefault(int(fields[1]), []).append(int(entry))
        stats[int(entry)] = (comm, int(fields[21]), sum(int(x) for x in fields[11:15]))
    root_comm = stats.get(root_pid, ("", 0, 0))[0]
    rss = ticks = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        comm, pages, cpu = stats.get(pid, ("", 0, 0))
        todo.extend(children.get(pid, []))
        # A child the JVM is spawning (Spark's Python daemon) shares the
        # JVM's memory until it execs; counting it would count the JVM twice.
        if pid != root_pid and comm == root_comm:
            continue
        rss += pages
        ticks += cpu
    return rss * (os.sysconf("SC_PAGE_SIZE") // 1024), ticks * _TICK_S


def jit_cpu_seconds(spark) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads. They
    are left out of ``cpu_seconds``: their share falls steeply over the
    first minute of a JVM, while the rest of its CPU per operation
    settles after the warm-up runs."""
    task = f"/proc/{spark.sparkContext._gateway.proc.pid}/task"
    ticks = 0
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/stat", encoding="utf-8") as fh:
                comm, fields = fh.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:
            continue
        if "CompilerThre" in comm:
            fields = fields.split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks * _TICK_S


def cpu_seconds(spark) -> float:
    """CPU seconds used so far by the JVM, its Python workers and this
    process (the driver side of PySpark), without the JVM's JIT compiler
    threads (see ``jit_cpu_seconds``)."""
    own = os.times()
    tree = _proc_tree(spark.sparkContext._gateway.proc.pid)[1]
    return tree - jit_cpu_seconds(spark) + own.user + own.system


class RssSampler:
    """Peak resident memory of the JVM and every process under it
    (Spark's Python workers), sampled on a background thread. A sample scans /proc (a few ms of
    Python under the GIL), so the period stays coarse."""

    def __init__(self, spark, period: float = 0.5):
        self._pid = spark.sparkContext._gateway.proc.pid
        self._period = period
        self._stop = threading.Event()
        self.peak_kb = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _proc_tree(self._pid)[0])
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return xs[k]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Timer:
    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0


def make_workdir(name: str, seed: int) -> str:
    work = os.path.join(ROOT, ".bench_work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work
