"""Process, session and measurement plumbing shared by the workloads.

Everything here observes the engine from outside: it starts the session
through ``pincspark.session.get_spark``, times calls into public functions,
tags actions with job groups, counts py4j round-trips by wrapping the
gateway client of this process, and turns on Spark's event log through JVM
system properties set before a session starts.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
CPUS = 4


def prepare_process() -> None:
    """Point every temp and scratch location of this process, the JVM and
    the Python workers inside the checkout, and make the checkout's
    ``pincspark`` the one imported (workers inherit ``PYTHONPATH``)."""
    if not os.path.isfile(os.path.join(ROOT, "pincspark", "session.py")):
        raise SystemExit(f"pincspark sources not found under {ROOT}")
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp
    for p in (ROOT, BENCH_DIR):
        if p not in sys.path:
            sys.path.insert(0, p)
    import pincspark

    if not os.path.abspath(pincspark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"imported pincspark from {pincspark.__file__}, not {ROOT}")


def start_session(event_log_dir: str | None = None):
    """Start a session through the package's own factory. ``event_log_dir``
    is for a session restarted in a running JVM: Spark's event log goes
    there, uncompressed, through JVM system properties, which every new
    SparkConf reads."""
    if event_log_dir:
        from pyspark import SparkContext

        os.makedirs(event_log_dir, exist_ok=True)
        system = SparkContext._jvm.java.lang.System
        system.setProperty("spark.eventLog.enabled", "true")
        system.setProperty("spark.eventLog.compress", "false")
        system.setProperty("spark.eventLog.dir", "file://" + event_log_dir)
    from pincspark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop the session, close the gateway and wait for the JVM (and with
    it the Python worker daemon) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reference_baseline():
    """``scripts/reference_baseline.py``: the single-process pandas twin."""
    scripts = os.path.join(ROOT, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import reference_baseline as module

    return module


class Tally:
    """Operations attempted and failed in one run, with what failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.notes.append(what)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Tracer:
    """Job-group tagging plus a count of this process's py4j round-trips."""

    def __init__(self, spark):
        self.spark = spark
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    @contextlib.contextmanager
    def group(self, name: str):
        self.spark.sparkContext.setJobGroup(name, name)
        try:
            yield
        finally:
            self.spark.sparkContext.setJobGroup("", "")


def median_of_ok(xs: list[float]) -> float:
    """Median of the runs that finished; a failed run is NaN and already
    counted in ``failed``."""
    ok = [x for x in xs if not math.isnan(x)]
    if not ok:
        raise RuntimeError("every timed run failed")
    return statistics.median(ok)


def tail_percentile(xs: list[float]) -> tuple[int, float]:
    """The highest whole percentile with at least ten samples above it."""
    n = len(xs)
    s = sorted(xs)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            k = min(n - 1, int(round(p / 100 * (n - 1))))
            return p, s[k]
    return 50, statistics.median(s)


def log_units(workload: str, walls: list[float], twins: list[float]) -> None:
    print(f"{workload} units: wall_s {[round(w, 3) for w in walls]} "
          f"twin_s {[round(t, 3) for t in twins]}", file=sys.stderr)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
