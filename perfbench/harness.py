"""Process, session and timing plumbing shared by every workload.

The benchmark runs in one Python process with one Spark session and one
closed-loop client: each operation starts only after the previous one
returned. Environment settings that ``slurm2sql_spark.session`` reads
at import time are fixed here before the package is imported.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench-work"

#: JVM heap of the benchmark's Spark session; the inputs are a few MB
HEAP = "1g"


def cpus() -> int:
    """Cores the session may use: every core this process may run on."""
    return len(os.sched_getaffinity(0))


def configure(workload: str) -> Path:
    """Set the environment, make a clean work directory and put the
    checkout first on the import path. Returns the work directory."""
    work = WORK / workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # temporary files stay in the work directory too: the gateway's
    # connection file (TMPDIR), native libraries the JVM unpacks
    # (java.io.tmpdir) and, switched off, the JVM's hsperfdata in /tmp
    tmp = work / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # day windows are cut at local midnight; the session zone is UTC too
    os.environ["TZ"] = "UTC"
    time.tzset()
    # the sacct DataSource reader runs in Spark's Python workers
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    sys.path.insert(0, str(ROOT))
    return work


def package_present() -> bool:
    return (ROOT / "slurm2sql_spark" / "__init__.py").is_file()


class Session:
    """The benchmark's one Spark session, its JVM and its shutdown."""

    def __init__(self, work: Path, event_log: bool = False):
        from slurm2sql_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        }
        if event_log:
            log_dir = work / "eventlog"
            log_dir.mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
            })
        self.event_log_dir = work / "eventlog" if event_log else None
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.start_s = time.perf_counter() - t0
        self._gateway = self.spark.sparkContext._gateway
        self.jvm_pid = self._gateway.proc.pid

    def peak_rss_mb(self) -> float:
        """High-water resident set of the JVM plus this Python process."""
        import resource

        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        proc = self._gateway.proc
        self.spark.stop()
        self._gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def warm(fn, tol: float, min_n: int, max_n: int) -> list[float]:
    """Run ``fn`` untimed at least ``min_n`` times and then until two
    consecutive walls agree within ``tol`` (at most ``max_n`` calls).
    Returns the walls."""
    walls: list[float] = []
    for _ in range(max_n):
        walls.append(timed(fn)[0])
        if len(walls) >= min_n and abs(walls[-1] - walls[-2]) <= tol * walls[-2]:
            break
    return walls


def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    xs = list(xs)
    return float(statistics.geometric_mean(xs))


def dir_bytes(path) -> int:
    """Bytes of the data files under a table directory."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total
