"""Shared plumbing for the benchmark: paths, host-derived session settings,
spans, the process-tree memory sampler and the session set-up timer.

Everything a run reads or writes stays inside the checkout: generated
inputs are cached under ``perfbench/.work/cache`` and every scratch file
(Spark local dirs, JVM and Python temp files, outputs, event logs) goes to
``perfbench/.work/run``, which is emptied at the start of each run.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import subprocess
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "ksana_corpus_builder_spark"
WORK = os.path.join(BENCH_DIR, ".work")
CACHE = os.path.join(WORK, "cache")
RUN = os.path.join(WORK, "run")
DATA = os.path.join(BENCH_DIR, "data")

# Split sizing pinned so every cluster size reads the same splits: one
# staged file is one split, whatever the number of cores.
SPLIT_CONF = {
    "spark.sql.files.maxPartitionBytes": str(1 << 20),
    "spark.sql.files.openCostInBytes": str(1 << 20),
}


def host_info() -> dict:
    """nproc, total RAM, the load average and the time of a fixed Python
    loop on one core, recorded before and after the run."""
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count() or 1,
        "ram_gb": round(mem_kb / (1 << 20), 1),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "loop_ms": round(1e3 * statistics.median(_loop() for _ in range(5)), 1),
    }


def _loop() -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i
    return time.perf_counter() - t0


def driver_mem(ram_gb: float) -> str:
    """A sixteenth of the host's RAM, between 1 and 4 GB: the inputs are
    tens of MB, and the machine's memory is shared."""
    return f"{max(1, min(4, int(ram_gb // 16)))}g"


def prepare_env(ram_gb: float, c1_only: bool) -> None:
    """Point every temp and scratch location into the run directory and set
    the JVM flags. Must run before pyspark starts its JVM (the env is
    inherited by the JVM and the Python workers it forks)."""
    shutil.rmtree(RUN, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "eventlog", "out"):
        os.makedirs(os.path.join(RUN, d), exist_ok=True)
    os.makedirs(CACHE, exist_ok=True)
    tmp = os.path.join(RUN, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN, "local")
    os.environ["SPARK_DRIVER_MEM"] = driver_mem(ram_gb)
    # The launcher JVM and the driver JVM both honour this; no hsperfdata
    # files in the system temp dir. See README.md for why a workload may
    # run the JVM with the C1 compiler only.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData " + ("-XX:TieredStopAtLevel=1 " if c1_only else "")
        + f"-Djava.io.tmpdir={tmp}")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def session_conf(event_log: bool = False) -> dict[str, str]:
    conf = dict(SPLIT_CONF)
    conf["spark.local.dir"] = os.path.join(RUN, "local")
    conf["spark.sql.warehouse.dir"] = os.path.join(RUN, "warehouse")
    conf["spark.ui.showConsoleProgress"] = "false"
    # The whole heap is committed and touched at JVM launch, so the JVM's
    # share of peak_rss_mb no longer depends on when G1 chose to grow it.
    mem = os.environ["SPARK_DRIVER_MEM"]
    conf["spark.driver.extraJavaOptions"] = f"-Xms{mem} -XX:+AlwaysPreTouch"
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(RUN, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    return conf


class Spans:
    """Wall-clock spans recorded by the benchmark around calls into each
    layer; kept in memory, summed by name at the end of the run."""

    def __init__(self) -> None:
        self.records: list[tuple[str, float, float]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.records.append((name, t0, time.perf_counter()))

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e in self.records if n == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every process."""
    table: dict[int, tuple[int, str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is in parentheses and may hold spaces
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        table[int(entry)] = (ppid, name)
    return table


def descendants_rss_bytes(root_pid: int) -> int:
    """Resident memory (PSS) of every descendant of ``root_pid``: the driver JVM,
    the Python daemon and its workers. The benchmark's own process is left
    out, since it also holds the oracle and the checks. A JVM's short-lived
    forks (helpers it spawns, still sharing its pages until they exec) are
    not counted again."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _name) in table.items():
        kids.setdefault(ppid, []).append(pid)
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        ppid, name = table[pid]
        if name == "java" and table.get(ppid, (0, ""))[1] == "java":
            continue
        todo.extend(kids.get(pid, ()))
        total += _pss_bytes(pid, page)
    return total


def _pss_bytes(pid: int, page: int) -> int:
    """Proportional set size: pages shared by the forked Python workers
    are split between them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * page
    except OSError:  # the process has exited
        return 0


class RssSampler:
    """Samples the resident memory of this process's descendants (driver
    JVM, Python daemon and workers). Each ``sampling()`` block records its
    own peak. A sample reads the JVM's ``smaps_rollup``, which walks its
    page tables (≈ 20 ms of a core with the 1 GB heap touched), so samples
    are kept sparse: the sampler must not compete with the task threads."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peaks: list[int] = []
        self._stop = threading.Event()
        self._active = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            if self._active.is_set():
                rss = descendants_rss_bytes(pid)
                if self._active.is_set() and self.peaks:
                    self.peaks[-1] = max(self.peaks[-1], rss)
            self._stop.wait(self.interval)

    @contextlib.contextmanager
    def sampling(self):
        self.peaks.append(descendants_rss_bytes(os.getpid()))
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self.peaks[-1] = max(self.peaks[-1], descendants_rss_bytes(os.getpid()))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Sessions:
    """Creates the run's SparkSessions and records the set-up time of each:
    session start-up plus the warm-up pass. The first set-up is timed from
    process start (interpreter, imports and JVM launch included). Work done
    by ``prepare`` (input staging) is excluded from set-up."""

    def __init__(self, t_process_start: float) -> None:
        self.t_start = t_process_start
        self.setups: list[float] = []
        self.spark = None

    def open(self, cpus: int, warm_up, prepare=None, event_log: bool = False,
             count_setup: bool = True):
        from ksana_corpus_builder_spark.session import get_spark
        first = self.spark is None and not self.setups
        t0 = self.t_start if first else time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(cpus=cpus, app_name="perfbench",
                               extra_conf=session_conf(event_log))
        excluded = 0.0
        if prepare is not None:
            t1 = time.perf_counter()
            prepare(self.spark)
            excluded = time.perf_counter() - t1
        warm_up(self.spark)
        if count_setup:
            self.setups.append(time.perf_counter() - t0 - excluded)
        return self.spark

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        self.spark.stop()
        self.spark = None
        gateway = getattr(sc, "_gateway", None)
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # a JVM that will not exit
                proc.kill()
                proc.wait(timeout=10)


def noop_write(df) -> None:
    """Evaluate every column of ``df`` without persisting anything."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    """Wall time of one call of ``fn``."""
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def timed_until(budget_s: float, fn) -> list[float]:
    """Call ``fn`` once, and again while one more call, as long as the
    last, would end within ``budget_s``. Return each call's wall time.
    Stopping before the budget is overrun, not after, keeps the number of
    calls, and so what the median is taken over, the same from run to run
    unless a call's time nears budget / n."""
    times: list[float] = []
    t_end = time.perf_counter() + budget_s
    while not times or time.perf_counter() + times[-1] <= t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return times


def f1(truth, got) -> float:
    """Keep/drop F1 of boolean sequences aligned by key."""
    tp = sum(1 for a, b in zip(truth, got) if a and b)
    fp = sum(1 for a, b in zip(truth, got) if not a and b)
    fn = sum(1 for a, b in zip(truth, got) if a and not b)
    if tp == 0:
        return 1.0 if fp == 0 and fn == 0 else 0.0
    p, r = tp / (tp + fp), tp / (tp + fn)
    return 2 * p * r / (p + r)
