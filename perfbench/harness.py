"""Shared plumbing for the workloads: process-start clock, environment
confinement to the checkout, the Spark session, the progress listener,
summary statistics and the result line."""

from __future__ import annotations

import json
import os
import shlex
import shutil
import threading
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")
PACKAGE = "spark_hive_streaming_sink_spark"
# local[N] with N <= nproc; four cores is the reference host
CPUS = max(1, min(4, os.cpu_count() or 1))
DRIVER_MEM = "2g"
E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "readback_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
}


@dataclass
class Result:
    """What a workload hands back: end-to-end metric values (keys of
    ``E2E_UNITS``), per-layer values when traced, operation counts, check
    failures, and diagnostics for the ``run:`` line."""

    metrics: dict
    layers: dict | None
    attempted: int
    failed: int
    problems: list
    info: dict
    tracer: object


def process_start() -> float:
    """This process's start on the ``time.monotonic`` clock (Linux:
    ``/proc/self/stat`` start time, which counts interpreter start-up)."""
    try:
        with open("/proc/self/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        start_ticks = int(fields[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        return time.monotonic() - max(age, 0.0)
    except (OSError, ValueError, IndexError):
        return time.monotonic()


def configure_env(workdir: str) -> None:
    """Point every scratch location Spark and the engine use at the
    workload's own directory inside the checkout, and make the engine
    importable by Python workers."""
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVM's own temp files (native libs, artifact dirs, perf data)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={shlex.quote(tmp)}"
    os.environ["SHSS_MAT_DIR"] = os.path.join(workdir, "barriers")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}",
        "--conf", f"spark.local.dir={local}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def make_progress_log():
    """A ``StreamingQueryListener`` keeping every progress event (the
    query's own ``recentProgress`` holds only the last 100)."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self._cv:
                self.events.append(
                    {
                        "query": str(p.id),
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "durations": dict(p.durationMs),
                    }
                )
                self._cv.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def wait_for(self, query_id: str, n: int, timeout: float = 60.0) -> list[dict]:
            """The query's progress events, once ``n`` have arrived (the
            listener bus delivers them asynchronously)."""
            deadline = time.monotonic() + timeout
            with self._cv:
                while True:
                    got = [e for e in self.events if e["query"] == query_id]
                    left = deadline - time.monotonic()
                    if len(got) >= n or left <= 0:
                        return sorted(got, key=lambda e: e["batch"])
                    self._cv.wait(left)

    return ProgressLog()


def median(xs) -> float:
    xs = sorted(xs)
    n = len(xs)
    if not n:
        return 0.0
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile (NumPy's default method)."""
    import numpy as np

    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else 0.0


def result_line(res: Result, units: dict[str, str]) -> str:
    """The last stdout line: every metric of ``units``, a missing one as 0."""
    values = res.layers if res.tracer else res.metrics
    return json.dumps(
        {
            "correct": not res.problems,
            "attempted": int(res.attempted),
            "failed": int(res.failed),
            "metrics": {
                k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()
            },
        }
    )
