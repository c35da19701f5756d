#!/usr/bin/env python
"""Record what a /render costs in Spark jobs, plan shape and wall time.

Three records, one JSON line each appended to OUT (plus plan files):

1. plans: on the perfbench serve corpus (seed 1, 2,000 paths `svc.hNN.mNN`,
   18 windows of 10 s, compacted), `render_target` of
   `movingAverage(svc.h03.*,6)` and `sumSeries(svc.*.m05)`. The grid the
   render collects is captured and its executed plan written with
   `explain("formatted")` to PLANS_DIR/render_<name>_<label>.txt, with the
   jobs of the call in the header.
2. targets: `render_targets` of 1 and of 5 targets on the same store:
   jobs of one call, then the median wall of --reps calls.
3. large: `movingAverage(m.*,6)` and `sumSeries(m.*)` over 400 paths x
   8,640 slots (one day at 10 s, 3,456,000 cells, under MAX_RENDER_CELLS),
   ingested through `Engine.ingest_lines`: jobs and the median wall of
   --large-reps calls.

The script imports the cassabon_spark package of the checkout it sits in,
so the same file run from two checkouts compares them.

Usage: SPARK_GRAFT_CPUS=4 python tools/render_records.py WORKDIR LABEL OUT
           [--plans-dir DIR] [--reps 30] [--large-reps 3]
The stores take about 100 MB in WORKDIR; a run takes 3–6 min on
4 cores.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from pyspark.sql import functions as F  # noqa: E402

from cassabon_spark import get_spark  # noqa: E402
from cassabon_spark.config import RollupConfig  # noqa: E402
from cassabon_spark.engine import Engine  # noqa: E402
from cassabon_spark.operators import query as qmod  # noqa: E402
from corpus import BASE, Carbon, rollup_config  # noqa: E402

PLAN_TARGETS = {
    "movingAverage_svc_h03": "movingAverage(svc.h03.*,6)",
    "sumSeries_svc_m05": "sumSeries(svc.*.m05)",
}
FIVE = [
    "movingAverage(svc.h03.*,6)",
    "sumSeries(svc.*.m05)",
    "movingAverage(svc.h07.*,6)",
    "sumSeries(svc.*.m11)",
    "svc.h01.*",
]
LARGE_PATHS, LARGE_SLOTS, LARGE_STEP = 400, 8640, 10
DAY0 = 1_699_920_000  # a UTC midnight


def jobs_of(spark, fn):
    """fn() under a fresh job group -> (its result, jobs it started)."""
    sc = spark.sparkContext
    group = f"rec-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def median_ms(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t0) * 1000)
    return round(statistics.median(times), 1)


def serve_engine(spark, work: str) -> tuple[Engine, int]:
    carbon = Carbon(1, 50, 40, windows=18)
    eng = Engine(spark, rollup_config(), f"{work}/serve/store", f"{work}/serve/index")
    src = f"{work}/serve/lines.txt"
    os.makedirs(os.path.dirname(src), exist_ok=True)
    with open(src, "w") as f:
        f.write("\n".join(carbon.lines()) + "\n")
    eng.ingest_lines(spark.read.text(src), line_col="value")
    eng.compact()
    return eng, carbon.end_s


def large_engine(spark, work: str) -> Engine:
    cfg = RollupConfig.from_dict(
        {"m": {"pattern": r"^m\.", "method": "average", "windows": ["10s:400d"]}}
    )
    eng = Engine(spark, cfg, f"{work}/large/store", f"{work}/large/index")
    n = LARGE_PATHS * LARGE_SLOTS
    lines = spark.range(n).select(
        F.concat_ws(
            " ",
            F.format_string("m.h%03d", (F.col("id") % LARGE_PATHS).cast("int")),
            F.format_string("%.3f", (F.col("id") * 7919 % 100_000) / 1000.0),
            (F.lit(DAY0 + 5) + (F.col("id") / LARGE_PATHS).cast("long") * LARGE_STEP).cast("string"),
        ).alias("value")
    )
    eng.ingest_lines(lines, line_col="value")
    eng.compact()
    return eng


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("workdir")
    ap.add_argument("label", help="names this checkout in the output (e.g. parent, change)")
    ap.add_argument("out", help="JSONL file the records are appended to")
    ap.add_argument("--plans-dir", help="where the plan files go (default: WORKDIR/plans)")
    ap.add_argument("--reps", type=int, default=30)
    ap.add_argument("--large-reps", type=int, default=3)
    args = ap.parse_args()

    def record(**fields) -> None:
        with open(args.out, "a") as f:
            f.write(json.dumps({"label": args.label, **fields}) + "\n")

    spark = get_spark(app_name="render-records")
    spark.sparkContext.setLogLevel("ERROR")
    eng, end = serve_engine(spark, args.workdir)

    captured = []
    collect = qmod.collect_sorted

    def capture(df, keys):
        captured.append(df)
        return collect(df, keys)

    qmod.collect_sorted = capture
    plans_dir = args.plans_dir or os.path.join(args.workdir, "plans")
    os.makedirs(plans_dir, exist_ok=True)
    for name, target in PLAN_TARGETS.items():
        eng.render_target(target, BASE, end, now_s=end)  # warm
        captured.clear()
        _, jobs = jobs_of(spark, lambda t=target: eng.render_target(t, BASE, end, now_s=end))
        plan = spark._jvm.PythonSQLUtils.explainString(
            captured[-1]._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(plans_dir, f"render_{name}_{args.label}.txt"), "w") as f:
            f.write(
                f"# render_target({target!r}, BASE, end, now_s=end) on the perfbench serve "
                f"corpus (seed 1, 2000 paths, compacted), local[{spark.sparkContext.defaultParallelism}]; "
                f"Spark jobs for the warm call: {jobs}\n{plan}"
            )
        record(record="plan", target=target, jobs=jobs)
    qmod.collect_sorted = collect

    for targets in (FIVE[:1], FIVE):
        def call(ts=targets):
            return eng.render_targets(ts, BASE, end, now_s=end)

        call()
        _, jobs = jobs_of(spark, call)
        record(record="targets", n_targets=len(targets), jobs=jobs,
               p50_ms=median_ms(call, args.reps), reps=args.reps)

    big = large_engine(spark, args.workdir)
    from_s, to_s = DAY0 - LARGE_STEP, DAY0 + (LARGE_SLOTS - 1) * LARGE_STEP
    now = to_s + 60
    for target in ("movingAverage(m.*,6)", "sumSeries(m.*)"):
        def call(t=target):
            return big.render_target(t, from_s, to_s, now_s=now)

        resp, jobs = jobs_of(spark, call)
        cells = sum(len(v) for v in resp["series"].values())
        record(record="large", target=target, paths=LARGE_PATHS, slots=LARGE_SLOTS,
               cells_out=cells, jobs=jobs, p50_ms=median_ms(call, args.large_reps),
               reps=args.large_reps)
    spark.stop()


if __name__ == "__main__":
    main()
