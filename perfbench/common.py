"""Shared plumbing: the work directory, the Spark session's lifetime, the
host record and the per-run result.

Nothing here changes what the program under test does; it only decides
where the session keeps its scratch files and how the run is reported.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100])."""
    if not values:
        return float("nan")
    s = sorted(values)
    k = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


@dataclass
class Op:
    """One timed client operation."""

    kind: str
    ms: float
    ok: bool = True
    detail: str = ""
    setup: bool = False  # run during set-up: checked and counted, not timed


@dataclass
class Result:
    """What one workload run measured. ``report`` holds every named metric
    this workload defines (name -> (value, unit)); the contract metrics
    are derived from ``setup`` and the timed operations (:attr:`timed`).
    ``ops`` also holds the set-up operations, which count as attempted and
    can fail."""

    workload: str
    ops: list[Op] = field(default_factory=list)
    setup: dict[str, float] = field(default_factory=dict)  # component -> seconds
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    input_bytes: int = 0  # bytes of generated input the program read

    def add(self, kind: str, ms: float, ok: bool, detail: str = "", setup: bool = False) -> None:
        self.ops.append(Op(kind, ms, ok, detail, setup))

    @property
    def failed(self) -> list[Op]:
        return [o for o in self.ops if not o.ok]

    @property
    def timed(self) -> list[Op]:
        return [o for o in self.ops if not o.setup]

    def ms_of(self, *kinds: str) -> list[float]:
        return [o.ms for o in self.ops if o.kind in kinds]


class Workspace:
    """A scratch directory inside the checkout plus the environment that
    keeps the Spark session's temporary files inside it. Removed on exit."""

    def __init__(self, workload: str):
        self.base = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
        shutil.rmtree(self.base, ignore_errors=True)
        for sub in ("tmp", "spark-local", "warehouse"):
            (self.base / sub).mkdir(parents=True)

    def path(self, *parts: str) -> str:
        return str(self.base.joinpath(*parts))

    def configure_env(self) -> None:
        n = cores()
        tmp = self.path("tmp")
        os.environ["SPARK_GRAFT_CPUS"] = str(n)
        # a small heap: the inputs are megabytes and the host is shared
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = tmp
        # the program's default JVM options, plus: temporary files here,
        # and no hsperfdata file in the system temp directory
        os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
            "-XX:MetaspaceSize=1g -XX:MaxMetaspaceSize=3g "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        )
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.sql.warehouse.dir={self.path('warehouse')} pyspark-shell"
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def remove(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        parent = self.base.parent
        try:
            parent.rmdir()  # only if no other run is using it
        except OSError:
            pass


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to
    exit (its Python workers are its children and end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def host_record(spark) -> dict:
    """``nproc``, the session's master and one single-thread spin probe
    (``tools.spin_check.spin_once``): a slow spin marks a degraded host
    window, and no figure is compared across hosts."""
    rec: dict = {"nproc": cores(), "master": spark.sparkContext.master,
                 "python": sys.version.split()[0]}
    from tools.spin_check import spin_once

    rec["spin_s"] = round(spin_once(), 4)
    return rec


def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


def contract_line(res: Result, end_to_end: list[dict], per_layer: list[dict],
                  layer_values: dict[str, float] | None, trace: bool) -> str:
    """The last stdout line: exactly ``correct``, ``attempted``, ``failed``
    and ``metrics``."""
    metrics: dict[str, dict] = {}
    if trace:
        for m in per_layer:
            metrics[m["name"]] = {"value": layer_values[m["name"]], "unit": m["unit"]}
    else:
        values = contract_values(res)
        for m in end_to_end:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    return json.dumps({
        "correct": not res.failed,
        "attempted": len(res.ops),
        "failed": len(res.failed),
        "metrics": metrics,
    })


def contract_values(res: Result) -> dict[str, float]:
    """The end-to-end metrics every workload reports: set-up time, the
    geometric mean operation latency (how TPC-H's power metric summarises
    a mix of unlike queries: each class weighs the same, and the figure
    does not jump between classes the way the median of a few unlike
    operations does) and the closed-loop rate (operations per second of
    operation time, one client, no think time)."""
    ms = [o.ms for o in res.timed]
    return {
        "setup_s": sum(res.setup.values()),
        "op_gmean_ms": math.exp(statistics.fmean(math.log(x) for x in ms)),
        "ops_per_s": len(ms) / (sum(ms) / 1000.0),
    }


def start_session(tracer, res: Result, app: str):
    """The program's own session factory and worker-pool warmup, timed as
    set-up. Returns the SparkSession."""
    from signalk_parquet_spark.session import get_spark, warm_worker_pool

    with tracer.span("session.get_spark"):
        spark, res.setup["session"] = timed(get_spark, app)
    tracer.spark = spark
    with tracer.span("session.warm_pool"):
        _, res.setup["warm_pool"] = timed(warm_worker_pool, spark)
    return spark
