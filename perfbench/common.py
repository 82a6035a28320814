"""Shared harness plumbing: checkout paths, process environment, the
Spark session, process-tree memory sampling and summary statistics."""

from __future__ import annotations

import hashlib
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PACKAGE = ROOT / "hours_api_clickup_spark"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the package from the checkout root, whatever the
    caller's working directory is."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def spark_conf(work: Path, event_log: bool) -> dict[str, str]:
    """The package's session defaults (driver heap included) plus what
    keeps the run's files inside ``work``; only the event log differs
    between an untraced and a traced session."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        (work / "events").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.dir": f"file://{work / 'events'}",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def start_session(work: Path, event_log: bool):
    from hours_api_clickup_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus()}]",
        extra_conf=spark_conf(work, event_log),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def adopt_orphans() -> None:
    """Make this process the child subreaper of its descendants: a
    process whose parent ends (a Python worker when the JVM that forked
    it exits) becomes this process's child, so ``stop_processes`` can
    wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                    out.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return out


def stop_processes(timeout_s: float = 30.0) -> None:
    """End the Spark JVM and every process it started, and wait for each.

    ``SparkSession.stop`` leaves PySpark's JVM running until the Python
    process exits; the JVM leaves when its stdin closes, and its Python
    workers when the JVM has gone. Whatever is still alive at the
    deadline is killed."""
    from pyspark import SparkContext

    deadline = time.monotonic() + timeout_s
    gateway = SparkContext._gateway
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may be gone already
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=max(0.1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    while True:
        kids = _children()
        if not kids:
            return
        if time.monotonic() >= deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.05)


def code_fingerprint() -> str:
    """sha256 over the package's Python sources (path + bytes)."""
    h = hashlib.sha256()
    for p in sorted(PACKAGE.rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def dir_stats(path: Path | str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path``, skipping hidden/underscore files."""
    files = size = 0
    for dp, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(suffix):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dp, n))
    return files, size


def remove(path: Path | str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def rmdir_if_empty(path: Path | str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass


class TreeRss:
    """Samples the summed proportional set size (PSS: shared pages split
    between the processes sharing them, so forked Python workers are
    not counted twice) of this process's descendants — the Spark JVM
    and its Python workers — and keeps the peak.

    This process is left out: it holds the harness (generators, the
    DuckDB oracle, the fixture API's pages) beside the driver-side
    Python of the package. Only ``java`` and ``python*`` processes
    count: a child the JVM has just vforked to launch a command shares
    the JVM's memory until it execs, and its PSS would count the whole
    JVM a second time."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self.peak_by: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree() -> dict[int, str]:
        parent, name = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
                parent[int(d)] = int(rest.split()[1])
                name[int(d)] = head.split("(", 1)[1]
            except (OSError, IndexError, ValueError):
                continue
        me = os.getpid()
        tree, frontier = set(), {me}
        while frontier:
            tree |= frontier
            frontier = {p for p, pp in parent.items() if pp in frontier} - tree
        tree.discard(me)
        return {
            p: name[p]
            for p in tree
            if name.get(p, "").startswith("python")
            or (name.get(p) == "java" and name.get(parent[p]) != "java")
        }

    def sample(self) -> None:
        by: dict[str, int] = {}
        for pid, comm in self._tree().items():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            by[comm] = by.get(comm, 0) + int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        total = sum(by.values())
        if total > self.peak:
            self.peak, self.peak_by = total, by

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def start(self) -> "TreeRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak / 2**20


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs) -> tuple[float, int] | None:
    """(value, percentile) of the highest percentile that leaves at
    least ten samples beyond it; None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    return sorted(xs)[n - 11], int(100 * (n - 10) / n)

