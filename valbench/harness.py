"""Process plumbing shared by the workloads.

One `Run` per invocation owns:
- a private work directory inside the checkout (Spark local dirs, temp files,
  generated inputs, event logs), removed when the run ends;
- the Spark session, started through the program's `get_spark` and stopped in
  order: SparkSession.stop, py4j gateway shutdown, JVM stdin closed, JVM
  waited for;
- the leftover-process guard: this process becomes the child subreaper, so
  Python workers orphaned by the JVM stay its descendants; every descendant
  seen during the run must be gone after shutdown, or the run fails;
- the peak-RSS sampler over the whole process tree (JVM + Python workers +
  this process), read from /proc.
"""

from __future__ import annotations

import ctypes
import os
import shlex
import shutil
import statistics
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, "_work")
RESULTS_DIR = os.path.join(HERE, "results")

# local[k]: four task slots, never more than the machine has
CORES = min(4, len(os.sched_getaffinity(0)))

_PR_SET_CHILD_SUBREAPER = 36
_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process was started (the kernel's start time, so
    interpreter start-up and imports are included)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start / _TICKS


def _proc_table() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (ppid, start ticks, rss pages, state) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        table[int(name)] = (int(rest[1]), int(rest[19]), int(rest[21]),
                            rest[0])
    return table


def _descendants(root: int, table) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class _TreeSampler(threading.Thread):
    """Samples the summed RSS of this process and its descendants, and
    records every descendant seen as (pid, start ticks)."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self.peak_parts: dict[int, int] = {}
        self.seen: set[tuple[int, int]] = set()
        self._halt = threading.Event()
        self._lock = threading.Lock()
        self._measuring = True

    def sample(self) -> None:
        me = os.getpid()
        table = _proc_table()
        pids = _descendants(me, table)
        rss = sum(table[p][2] for p in pids + [me] if p in table)
        with self._lock:
            self.seen.update((p, table[p][1]) for p in pids)
            if self._measuring and rss * _PAGE > self.peak_bytes:
                self.peak_bytes = rss * _PAGE
                self.peak_parts = {p: table[p][2] * _PAGE >> 20
                                   for p in pids + [me] if p in table}

    def freeze_peak(self) -> None:
        """Stop counting RSS (the result checks that follow are the
        benchmark's own work); descendants are still recorded."""
        self.sample()
        with self._lock:
            self._measuring = False

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


class LeftoverProcesses(RuntimeError):
    pass


class Run:
    """Context manager around one benchmark invocation."""

    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
        self.spark = None
        self.sampler = _TreeSampler()
        self.setup_s: float | None = None
        self.event_log_dir = os.path.join(self.work, "events")

    # -- lifecycle -----------------------------------------------------------

    def __enter__(self) -> "Run":
        libc = ctypes.CDLL(None, use_errno=True)
        if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
            raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        for d in (tmp, os.path.join(self.work, "local"), self.event_log_dir):
            os.makedirs(d)
        # Python workers import sparkcheck from the checkout, whatever the
        # working directory; every temp file lands in the work directory
        old = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        # driver JVM and the launcher JVM that builds its command line
        jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_SUBMIT_OPTS"] = jvm_opts
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
        confs = [f"spark.sql.warehouse.dir={self.work}/warehouse",
                 "spark.ui.showConsoleProgress=false"]
        if self.trace:
            confs += ["spark.eventLog.enabled=true",
                      f"spark.eventLog.dir=file://{self.event_log_dir}",
                      # no zstd module here to read a compressed log
                      "spark.eventLog.compress=false"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
        self.sampler.start()
        return self

    def start_spark(self):
        from sparkcheck.session import get_spark
        self.spark = get_spark(cores=CORES, app=f"valbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup_done(self) -> None:
        """Marks the end of set-up: process start to here is `setup_s`."""
        self.setup_s = process_age_s()

    def timed_done(self) -> None:
        self.sampler.freeze_peak()

    @property
    def peak_rss_mb(self) -> float:
        return self.sampler.peak_bytes / 2**20

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                # the JVM's gateway server exits when its stdin closes
                proc.stdin.close()
                proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def __exit__(self, exc_type, exc, tb) -> None:
        try:
            self.stop_spark()
        finally:
            try:
                self.sampler.stop()
            finally:
                alive = self._wait_for_descendants()
                shutil.rmtree(self.work, ignore_errors=True)
                if alive:
                    raise LeftoverProcesses(
                        f"processes alive after shutdown (killed): {alive}")

    def _wait_for_descendants(self, timeout: float = 30.0) -> list[int]:
        """Reap and wait for every descendant seen during the run. Returns
        the pids that outlived `timeout` (they are then killed)."""
        deadline = time.monotonic() + timeout
        while True:
            self._reap()
            table = _proc_table()
            me = os.getpid()
            alive = set(_descendants(me, table))
            alive |= {p for p, start in self.sampler.seen
                      if p in table and table[p][1] == start
                      and table[p][3] != "Z"}
            alive.discard(me)
            if not alive:
                return []
            if time.monotonic() > deadline:
                for pid in alive:
                    try:
                        os.kill(pid, 9)
                    except ProcessLookupError:
                        pass
                time.sleep(0.5)
                self._reap()
                return sorted(alive)
            time.sleep(0.1)

    @staticmethod
    def _reap() -> None:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                return


def median(values):
    return statistics.median(values) if values else 0.0


def timed_rounds(seconds: float, round_fn) -> tuple[float, int]:
    """Run whole rounds until `seconds` have passed; returns (wall seconds,
    rounds)."""
    t0 = time.perf_counter()
    rounds = 0
    while True:
        round_fn(rounds)
        rounds += 1
        wall = time.perf_counter() - t0
        if wall >= seconds:
            return wall, rounds
