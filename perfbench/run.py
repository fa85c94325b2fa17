"""End-to-end benchmark of the lambda pipeline and the catalog query mix.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The workloads, their loop type and rate,
and the map from each per-layer metric to the end-to-end metric it should
move are in ``perfbench/workloads.json``. The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it holds the run's details (host, per-workload figures, check
results). With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics of a separate traced run.

Everything the run writes stays under ``.perfbench_run/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(HERE, "workloads.json")
PACKAGE = "flink_recommendation_system_spark"


def load_spec() -> dict:
    with open(SPEC) as fh:
        return json.load(fh)


def spark_cpus() -> int:
    return max(1, min(os.cpu_count() or 1, 4))


class Bench:
    """State of one run: its Spark session, counters and results."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, spec: dict):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.params = spec["workloads"][workload]
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.details: dict = {"workload": workload, "seed": seed}
        self.event_log = os.path.join(work, "eventlog")
        # set by the workload: measurement start (epoch s) and the measured
        # operation times (s)
        self.measure_from = 0.0
        self.ops: list[float] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session ---------------------------------------------------------
    def start_session(self):
        """Start the SparkSession through the package's own
        factory, with every local directory inside the run directory."""
        from flink_recommendation_system_spark.session import (
            LOCAL_SF_MAX_PARTITION_BYTES,
            get_spark,
        )

        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.trace:
            os.makedirs(self.event_log, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log
            conf["spark.eventLog.compress"] = "false"
        self.spark = get_spark(
            "perfbench", max_partition_bytes=LOCAL_SF_MAX_PARTITION_BYTES,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def setup(self, prep, reps: int) -> None:
        """Start the session, then run ``prep(i)``, the program's one-time
        work, ``reps`` times. ``setup_s`` is the session start plus the
        median of the repetitions."""
        t0 = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t0
        preps = []
        for i in range(reps):
            t0 = time.perf_counter()
            prep(i)
            preps.append(time.perf_counter() - t0)
        self.e2e["setup_s"] = session_s + statistics.median(preps)
        self.details["session_start_s"] = round(session_s, 4)
        self.details["setup_prep_s"] = [round(x, 4) for x in preps]

    # -- accounting --------------------------------------------------------
    def record(self, ok: bool, what: str) -> None:
        """Count one operation; ``what`` describes it if it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def fail(self, what: str) -> None:
        """Record a failed check that marks the run incorrect."""
        self.errors.append(what)

    def job_group(self, name: str | None) -> None:
        """Label the following jobs of this thread (traced runs only)."""
        if self.trace and self.spark is not None:
            sc = self.spark.sparkContext
            if name is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(name, name)

    def retained_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / (1 << 20)


def enter(name: str) -> str:
    """Create this process's run directory under the checkout and point
    every temporary path of Python, Spark and the program into it."""
    work = os.path.join(ROOT, ".perfbench_run", f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cpus())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_GRAFT_MAX_PARTITION_BYTES", None)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def leave(work: str) -> None:
    """Stop the JVM the session started, wait for it, and remove the run
    directory."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def host_info() -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark_cpus": spark_cpus(),
        "spark_version": pyspark.__version__,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": sys.version.split()[0],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (self-test)")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    if a.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {a.workload!r}; choose from "
              f"{sorted(spec['workloads'])}", file=sys.stderr)
        return 2

    work = enter(f"{a.workload}-{a.seed}")
    import workloads

    b = Bench(a.workload, a.seed, a.seconds, bool(a.trace), work, spec)
    if a.sf is not None:
        b.params = dict(b.params, sf=a.sf)
    b.details["host"] = host_info()
    b.details["loadavg_start"] = list(os.getloadavg())
    ok = True
    try:
        getattr(workloads, a.workload)(b)
    except Exception:  # the run's boundary: report, never print a result
        traceback.print_exc()
        ok = False
    finally:
        try:
            b.stop_session()
        except Exception:
            traceback.print_exc()
    try:
        if ok and b.trace:
            workloads.finish_trace(b)
    except Exception:
        traceback.print_exc()
        ok = False
    finally:
        leave(work)
    if not ok:
        return 1

    b.details["loadavg_end"] = list(os.getloadavg())
    b.details["errors"] = b.errors[:20]
    b.details["error_rate"] = b.failed / b.attempted if b.attempted else None
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if b.trace else "end_to_end"]
    names = [m["name"] for m in declared]
    units = {m["name"]: m["unit"] for m in declared}
    if b.trace:
        # a layer the workload does not exercise reads 0; metrics of the
        # workloads outside BENCHMARK.json go to the details line
        values = {n: b.layer.get(n, 0.0) for n in names}
        b.details["other_layer_metrics"] = {k: v for k, v in b.layer.items() if k not in units}
    else:
        missing = [n for n in names if n not in b.e2e]
        if missing:
            print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
            return 1
        values = b.e2e
    result = {
        "correct": b.failed == 0 and not b.errors and b.attempted > 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in names},
    }
    print(json.dumps({"details": b.details}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
