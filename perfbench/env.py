"""Host sizing, the hermetic Spark session, and per-rep labels.

Everything the benchmark writes lives under ``perfbench/_work`` in the
checkout (Spark's local dir and the JVM's temp dir included), and the
Python workers import the program from the checkout root through
``PYTHONPATH``, whatever the current directory is.
"""

from __future__ import annotations

import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")
RESULTS = os.path.join(BENCH_DIR, "_results")

ARROW_CONFS = (
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.execution.arrow.maxBytesPerBatch",
    "spark.sql.execution.arrow.useLargeVarTypes",
    "spark.sql.execution.arrow.pyspark.selfDestruct.enabled",
)


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "orc_rust_spark", "__init__.py"))


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 4 << 30


def spark_cores() -> int:
    """local[k]: every core of the host, at most 4 (one fixed k for all
    workloads; N->4N scaling waits for a larger host)."""
    return max(1, min(4, host_cores()))


def driver_memory() -> str:
    """A sixth of the host RAM, between 1 and 4 GiB."""
    gib = host_ram_bytes() / (1 << 30) / 6
    return f"{max(1, min(4, int(gib)))}g"


def prepare_process_env(run_dir: str) -> None:
    """Called before the first Spark session: workers find the program
    through PYTHONPATH and every temp file lands in the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p and p != ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher too, would otherwise write a
    # perf-data file under /tmp whatever its java.io.tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    _become_subreaper()


def _become_subreaper() -> None:
    """Orphaned descendants (the Python workers, once the JVM has exited)
    become children of this process instead of init, so that
    ``shutdown_spark`` can wait for them."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def start_spark(run_dir: str):
    """local[k] session with quiet logs, its files under ``run_dir``."""
    from pyspark.sql import SparkSession
    k = spark_cores()
    tmp = os.path.join(run_dir, "tmp")
    # a fixed-size heap: no heap resizing between runs
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{driver_memory()}"
    spark = (SparkSession.builder.master(f"local[{k}]")
            .appName("perfbench")
            .config("spark.driver.memory", driver_memory())
            .config("spark.driver.extraJavaOptions", java_opts)
            .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
            .config("spark.sql.warehouse.dir",
                    os.path.join(run_dir, "warehouse"))
            .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
            .config("spark.sql.shuffle.partitions", str(k))
            .config("spark.default.parallelism", str(k))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.python.worker.reuse", "true")
            .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_spark(grace_s: float = 30.0) -> None:
    """Stop the session, then the gateway JVM that pyspark launched, and
    wait until every process this one started has ended: the JVM (our
    child, so it is reaped here) and its Python workers.

    ``spark.stop()`` leaves the JVM running until this process exits, and
    it then takes seconds to shut down on its own; so it is ended here."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    # a second SIGTERM must not cut the shutdown short
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    try:
        session = SparkSession.getActiveSession()
        if session is not None:
            session.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Exception:  # e.g. a signal cut a gateway call short: end the JVM
        traceback.print_exc()
    kids = process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            traceback.print_exc()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin reaches EOF
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # orphans are ours now (subreaper): whatever is left of the tree
    _end_all(sorted(set(kids) | set(process_tree(os.getpid())[1:])), grace_s)


def alive(pid: int) -> bool:
    """The process runs: it exists and is not a zombie, or it is a zombie
    thread-group leader whose other threads still run (a JVM that is
    still exiting shows as ``Zl``)."""
    f = _stat_fields(pid)
    return f is not None and (f[0] not in ("Z", "X") or int(f[17]) > 1)


def _end_all(pids: list[int], grace_s: float) -> None:
    """SIGTERM, then SIGKILL after ``grace_s``, whatever of ``pids`` still
    runs; wait until none does, then reap every ended child."""
    deadline = time.monotonic() + grace_s
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            if alive(pid):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        while time.monotonic() < deadline and any(map(alive, pids)):
            time.sleep(0.05)
        deadline = time.monotonic() + grace_s
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {"python": platform.python_version(), "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__, "pyspark": pyspark.__version__}


def arrow_settings(spark) -> dict:
    out = {}
    for key in ARROW_CONFS:
        try:
            out[key] = spark.conf.get(key, None)
        except Exception:  # unknown key on this Spark version
            out[key] = None
    return out


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# /proc sampling: own process tree, external CPU, worker RSS
# ---------------------------------------------------------------------------

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields start after the closing paren
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """root and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_ticks(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f:  # utime stime cutime cstime
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total


def jvm_and_python_ticks(jvm_pid: int) -> tuple[int, int]:
    """(JVM, its Python workers) CPU jiffies so far."""
    tree = process_tree(jvm_pid)
    py = []
    for pid in tree[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if "python" in f.read():
                    py.append(pid)
        except OSError:
            pass
    return _tree_ticks([jvm_pid]), _tree_ticks(py)


def ticks_to_s(ticks: int) -> float:
    return ticks / _HZ


def _host_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole host; busy includes steal."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]] + [0] * 8
    return sum(vals[:8]) - vals[3] - vals[4], vals[7]


def cpu_probe_ms() -> float:
    """Wall time of a fixed single-core numpy + Python workload: a
    machine-speed label that explains drift between runs."""
    import numpy as np
    a = np.random.default_rng(0).random(500_000)
    t0 = time.perf_counter()
    for _ in range(5):
        np.sort(a)
    s = 0
    for i in range(300_000):
        s += i
    return (time.perf_counter() - t0) * 1e3


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class CpuProbe:
    """External CPU over an interval: host busy cores minus this
    process tree's cores, clamped at [0, host cores]; steal is the
    hypervisor's share, reported on its own as well."""

    def __init__(self):
        self.pids = process_tree(os.getpid())
        self.t0 = time.perf_counter()
        self.host0, self.steal0 = _host_ticks()
        self.own0 = _tree_ticks(self.pids)

    def stop(self) -> dict:
        wall = max(time.perf_counter() - self.t0, 1e-9)
        pids = process_tree(os.getpid())
        busy, steal = _host_ticks()
        host = (busy - self.host0) / _HZ / wall
        own = (_tree_ticks(pids) - self.own0) / _HZ / wall
        ext = min(max(host - own, 0.0), float(os.cpu_count() or 1))
        return {"ext_cores": round(ext, 3), "own_cores": round(own, 3),
                "steal_cores": round((steal - self.steal0) / _HZ / wall, 3),
                "loadavg": loadavg()}


class WorkerRss:
    """Peak RSS of the Python worker processes (the Python descendants
    of the JVM): the largest kernel high-water mark (VmHWM) of any worker,
    polled every ``period`` seconds so exited workers still count.
    Forked workers share pages, so a sum would overstate memory."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak = 0
        self.by_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        top = 0
        for pid in process_tree(self.jvm_pid)[1:]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    # short-lived forks of the JVM (shell helpers) carry
                    # the JVM's RSS until they exec: Python ones only
                    if "python" not in f.readline():
                        continue
                    for line in f:
                        if line.startswith("VmHWM:"):
                            hwm = int(line.split()[1]) * 1024
                            self.by_pid[pid] = max(self.by_pid.get(pid, 0), hwm)
                            top = max(top, hwm)
                            break
            except OSError:
                pass
        return top

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._sample())

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
