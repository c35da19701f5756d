"""Shared plumbing for the benchmark workloads: the per-run work directory,
the Spark session (started and fully stopped), the load gate, run
conditions, summary statistics and the result line.

Everything a run writes lives under `<checkout>/.perfbench_work/`: Spark's
local and temp dirs, the JVM temp dir, the warehouse, generated inputs and
the span file of a traced run.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare(workload: str) -> Path:
    """Fresh work dir for this workload; point every temp/scratch location
    of Python, the JVM and Spark inside it. Must run before pyspark starts."""
    work = WORK / workload
    shutil.rmtree(work, ignore_errors=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    confs = {
        "spark.local.dir": work / "spark-local",
        "spark.sql.warehouse.dir": work / "warehouse",
        "spark.ui.showConsoleProgress": "false",
        # keep every job/stage of a run in the status store: the traced
        # run reads them back after the timed phase
        "spark.ui.retainedJobs": 100000,
        "spark.ui.retainedStages": 100000,
        "spark.sql.ui.retainedExecutions": 100,
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    )
    # no hsperfdata in the system temp dir; JVM temp files stay in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return work


def start_spark(app: str):
    from cassabon_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{app}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then close the py4j gateway and wait for the JVM
    process to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _cpu_times() -> tuple[float, float]:
    with open("/proc/stat") as fh:
        vals = [float(v) for v in fh.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0.0)
    return sum(vals), idle


def busy_cores(window_s: float = 0.5) -> float:
    """Cores busy over a short window, from /proc/stat (all processes)."""
    t0, i0 = _cpu_times()
    time.sleep(window_s)
    t1, i1 = _cpu_times()
    total = t1 - t0
    return 0.0 if total <= 0 else (1 - (i1 - i0) / total) * os.cpu_count()


def load_gate(max_wait_s: float, below: float = 1.0) -> dict:
    """Wait, at most max_wait_s, until fewer than `below` cores are busy.

    The 1-minute load average cannot serve as the gate inside one run: the
    run's own set-up has just kept every core busy and the average decays
    over minutes. Busy cores over half-second windows see the same outside
    load without that lag; the 1-minute average is recorded beside it."""
    t0 = time.monotonic()
    busy = busy_cores()
    while busy >= below and time.monotonic() - t0 < max_wait_s:
        busy = busy_cores()
    return {
        "waited_s": round(time.monotonic() - t0, 2),
        "busy_cores": round(busy, 2),
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }


def conditions(spark) -> dict:
    mem = {}
    with open("/proc/meminfo") as fh:
        for ln in fh:
            k, _, v = ln.partition(":")
            mem[k] = v.strip()
    return {
        "nproc": nproc(),
        "mem_available_mb": int(mem.get("MemAvailable", "0 kB").split()[0]) // 1024,
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
    }


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def close(a, b, tol: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=tol, abs_tol=tol)


def series_match(got: dict, want: dict) -> bool:
    """Two {name: [value | None, ...]} maps agree name by name, slot by slot."""
    return set(got) == set(want) and all(
        len(got[k]) == len(want[k]) and all(map(close, got[k], want[k]))
        for k in want
    )


def emit(report: dict, correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """Print the detail line, then the result line (always last on stdout)."""
    print(json.dumps(report, sort_keys=True, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
