"""Session set-up, one job run, and host/process sampling.

The benchmark is one closed-loop client: it runs one job at a time, in
process, on a session it builds with ``plans.build_session``, and starts
the next job only after the previous one returned.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(REPO, ".perfbench_cache")
WORK_ROOT = os.path.join(REPO, ".perfbench_work")
# A 1 GB driver heap, not the package's 8g default: the host is shared and
# the corpora are small. build() fixes and pre-touches it, so peak memory
# does not swing with when the JVM chose to grow its heap.
DRIVER_MEM = "1g"
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def cores() -> int:
    """Spark task slots: half the cores this process may use. The driver
    JVM's own threads (scheduler, GC, JIT), the Python driver and the
    memory sampler need the rest; with a slot per core, job times followed
    the shared host's scheduler (quartile spread over seeds ~0.25 at
    local[4] on 4 cores, ~0.15 at local[2])."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def prepare_env(work: str) -> None:
    """Point every process the benchmark starts at the checkout: the Spark
    Python workers need the package root on their path (without it an
    in-process ``run()`` fails with ModuleNotFoundError inside the UDF),
    and Spark's scratch space and temp files stay inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # spark-submit's short-lived launcher JVM would otherwise write its
    # performance-data file under the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def build(master: str, work: str, event_log: bool = False):
    from incident_pii_redactor_spark.plans import build_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    if event_log:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + logs,
        })
    spark = build_session("perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_job(spec, spark, input_dir: str, out_dir: str) -> tuple[float, dict]:
    """Time one ``run(args, spark)`` call of the workload's job, its
    arguments parsed by the job's own parser, into a fresh ``out_dir``."""
    if spec.kind == "scrub":
        from jobs.scrub import parse_args, run

        paths = ["--manifest", os.path.join(out_dir, "manifest")]
    else:
        from jobs.dedup import parse_args, run

        paths = []
    shutil.rmtree(out_dir, ignore_errors=True)
    args = parse_args(["--input", input_dir,
                       "--output", os.path.join(out_dir, "out"),
                       *paths, *spec.job_args])
    t0 = time.perf_counter()
    stats = run(args, spark)
    return time.perf_counter() - t0, stats


def setup(spec, master: str, work: str, warm_input: str,
          event_log: bool = False):
    """Build a session and warm it with one job over the warm-up corpus."""
    t0 = time.perf_counter()
    spark = build(master, work, event_log)
    run_job(spec, spark, warm_input, os.path.join(work, "warm"))
    return spark, time.perf_counter() - t0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine since boot, from
    /proc/stat: time a hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def calibration_s() -> float:
    """A fixed pure-Python loop: its time tracks how much CPU this process
    gets from a shared host, independently of the program under test."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each shared page split
    among the processes sharing it. Summed over a process tree this counts
    the pages a just-forked child shares with the JVM once, where RSS
    would count them twice."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """Resident bytes (PSS) of ``root`` and its descendants: (total, JVM
    part)."""
    kids = _children()
    total, jvm, todo = 0, 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            rss = _pss_bytes(pid)
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
        except OSError:
            continue
        total += rss
        jvm += rss if is_jvm else 0
    return total, jvm


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Spark Python workers), as PSS sampled from /proc every
    ``interval`` seconds. ``take()`` returns the peak since the last call."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self._peak = (0, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total, jvm = tree_rss_bytes(me)
            with self._lock:
                self._peak = (max(self._peak[0], total),
                              max(self._peak[1], jvm))
            self._stop.wait(self.interval)

    def take(self) -> tuple[int, int]:
        """(total, JVM) peak bytes since the previous call."""
        with self._lock:
            peak, self._peak = self._peak, (0, 0)
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.extend(kids.get(pid, ()))
        todo.extend(kids.get(pid, ()))
    return out


def adopt_orphans() -> None:
    """Make this process the child subreaper of every process it starts:
    one whose parent ends first (a Spark Python daemon whose JVM exited,
    the JVM of a killed scaling leg) is re-parented here instead of to
    init, so ``reap_all`` still sees it and waits for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_exited() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_all(grace: float = 20.0) -> None:
    """Wait until every process this one started has ended and been
    reaped: ``grace`` seconds for them to exit, then SIGKILL. Call it only
    when no ``subprocess`` child is still being waited on."""
    deadline = time.monotonic() + grace
    killed = False
    while True:
        _reap_exited()
        left = _descendants()
        if not left:
            return
        if time.monotonic() >= deadline:
            if killed:
                raise RuntimeError(f"processes {left} did not end")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.1)


def shutdown(spark) -> None:
    """Stop the session, end the JVM it launched, and wait until every
    process this one started has exited (SIGKILL after a grace period)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap_all()
