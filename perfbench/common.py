"""Shared pieces of the benchmark: the Spark session it runs in, host noise
and memory readings, span timing and small statistics helpers.

Everything here runs in the benchmark's own process; the crawl engine and the
data pipeline are only ever called through their public functions.
"""

from __future__ import annotations

import gc
import math
import os
import resource
import statistics
import sys
import time
from contextlib import contextmanager

import pandas as pd  # module-level: pandas-UDF type hints resolve via globals

MASTER = "local[4]"
_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench {time.monotonic() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


class Spans:
    """In-memory span log of (name, start, end) epoch-second intervals.
    Nothing is written out; the run reads the totals once it ends."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))

    def wrap(self, obj, attr: str, name: str):
        """Time every call of `obj.attr` (an instance attribute shadows the
        method, so only this object is affected)."""
        fn = getattr(obj, attr)

        def timed(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, attr, timed)

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e in self.spans if n == name)

    def count(self, name: str) -> int:
        return sum(1 for n, _, _ in self.spans if n == name)

    def first_start(self, name: str, after: float = 0.0) -> float | None:
        starts = [s for n, s, _ in self.spans if n == name and s >= after]
        return min(starts) if starts else None


def start_session(work_dir: str, event_log_dir: str | None = None):
    """local[4] session whose scratch space stays under `work_dir`."""
    from crawlspark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work_dir}/tmp",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = "file://" + event_log_dir
        extra["spark.eventLog.rolling.enabled"] = "false"
        extra["spark.eventLog.compress"] = "false"
    return get_spark(app_name="perfbench", master=MASTER, extra=extra)


def prepare_env(root: str, work_dir: str) -> None:
    """Process environment for the gateway JVM and its Python workers: the
    repo importable by workers, every temp file under `work_dir`, and a
    driver heap that fits a shared 4-core host."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work_dir, d), exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["CRAWLSPARK_DRIVER_MEM"] = "3g"
    os.environ.pop("CRAWLSPARK_PROFILE", None)


def stop_jvm() -> None:
    """Stop the gateway JVM and wait for it (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def drain(df) -> None:
    """Execute `df` fully into the noop sink (no driver-side collect)."""
    df.write.format("noop").mode("overwrite").save()


def settle(spark) -> None:
    """Collect garbage in the driver Python and the gateway JVM before a
    timed operation, so each starts from the same heap state (the engine's
    local checkpoints are released when the JVM collects their RDDs)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def warm_python_workers(spark) -> None:
    """Spawn the pandas-UDF worker pool before anything is timed."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    n = 8
    drain(spark.range(0, n, 1, n).select(_warm("id")))


# -- host noise and memory ------------------------------------------------- #
def read_cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class HostNoise:
    def __init__(self):
        self.s0, self.t0 = read_cpu_steal()

    def report(self) -> dict:
        s1, t1 = read_cpu_steal()
        return {
            "steal_pct": round(100.0 * (s1 - self.s0) / max(1, t1 - self.t0), 3),
            "load_avg_1m": os.getloadavg()[0],
            "nproc": os.cpu_count(),
        }


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the comm field may hold spaces; ppid follows its ")"
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        stack.extend(kids)
    return out


def peak_rss_mb() -> float:
    """Driver Python ru_maxrss plus the VmHWM of every JVM this process
    started (the gateway; local mode runs the executors inside it)."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
