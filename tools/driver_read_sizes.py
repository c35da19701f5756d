#!/usr/bin/env python
"""Time one bounded read through both read executors across kept-file sizes.

Builds one-tier (60 s, AVERAGE route) snapshot stores of 8, 40 and 400
paths x 6 days, one point a minute per path, written the way
Engine.ingest_lines writes them (one commit per day). Then, for reads of
1, 3 and 6 days of every path, runs `Fetch.run` over the pinned files
twice — over the StoreRead (arrow_grid, on the driver) and over
`StoreRead.frame()` (query_metrics_df, the Spark plan) — and prints one
JSON line per read: the manifest bytes kept, whether both answers agree,
the median time of --reps runs, and the peak growth of this (driver)
process's RSS during the read (the JVM's memory is not counted). Read shapes: step 3600 with AVERAGE and
with LAST (a coarsened dashboard read), and step 60 with AVERAGE where the
grid fits MAX_RENDER_CELLS.

Usage: SPARK_GRAFT_CPUS=4 python tools/driver_read_sizes.py WORKDIR [--reps 3]
The stores take about 150 MB in WORKDIR; a full run takes about 10 min on
4 cores.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cassabon_spark import get_spark  # noqa: E402
from cassabon_spark.config import RollupConfig  # noqa: E402
from cassabon_spark.engine import Engine  # noqa: E402
from cassabon_spark.operators import query as qmod  # noqa: E402
from cassabon_spark.operators.rollup import (  # noqa: E402
    PARTITION_COLS,
    rollup_tiers,
    with_date_bucket,
)
from cassabon_spark.session import release_checkpoint  # noqa: E402
from cassabon_spark.sources.snapshot import SnapshotTable  # noqa: E402

CFG = RollupConfig.from_dict(
    {"m": {"pattern": r"^m\.", "method": "average", "windows": ["60s:400d"]}}
)
DAY0 = 1_699_920_000  # a UTC midnight
DAYS = 6


def path_names(n: int) -> list[str]:
    return [f"m.host{i // 10:03d}.cpu{i % 10:02d}" for i in range(n)]


def build(spark, root: str, n_paths: int) -> SnapshotTable:
    table = SnapshotTable(spark, root)
    if table.version() is not None:
        return table
    for day in range(DAYS):
        metrics = spark.range(n_paths * 1440).select(
            F.format_string(
                "m.host%03d.cpu%02d",
                ((F.col("id") % n_paths) / 10).cast("long"),
                F.col("id") % 10,
            ).alias("path"),
            (F.rand(day) * 100).alias("value"),
            (F.lit(DAY0 + day * 86400) + (F.col("id") / n_paths).cast("long") * 60 + 7)
            .cast("double")
            .alias("ts"),
        )
        finest, tiers = rollup_tiers(metrics, CFG)
        table.append(
            with_date_bucket(tiers)
            .repartition(*PARTITION_COLS, "path")
            .sortWithinPartitions("path", "time"),
            partition_cols=PARTITION_COLS,
        )
        release_checkpoint(finest)
    return table


def rss() -> int:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def timed(fn):
    """(fn(), seconds, peak RSS growth in bytes while it ran)."""
    base, peak, stop = rss(), [0], threading.Event()

    def sample():
        while not stop.is_set():
            peak[0] = max(peak[0], rss())
            time.sleep(0.002)

    th = threading.Thread(target=sample)
    th.start()
    t0 = time.perf_counter()
    try:
        out = fn()
    finally:
        dt = time.perf_counter() - t0
        stop.set()
        th.join()
    return out, dt, max(peak[0], rss()) - base


def same(a: dict, b: dict) -> bool:
    """Equal responses, floats to rel 1e-9 (summation order may differ)."""
    if a["series"].keys() != b["series"].keys():
        return False
    return all(
        len(a["series"][p]) == len(b["series"][p])
        and all(
            (x is None and y is None)
            or (x is not None and y is not None and math.isclose(x, y, rel_tol=1e-9))
            for x, y in zip(a["series"][p], b["series"][p])
        )
        for p in a["series"]
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("workdir")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    spark = get_spark()
    for n_paths in (8, 40, 400):
        table = build(spark, os.path.join(args.workdir, f"p{n_paths}"), n_paths)
        paths = path_names(n_paths)
        for days in (1, 3, 6):
            f, t = DAY0, DAY0 + days * 86400 - 1
            for step, method in ((3600, "average"), (3600, "last"), (60, "average")):
                if n_paths * (days * 86400 // step) > Engine.MAX_RENDER_CELLS:
                    continue
                store = qmod.pin_store(table, f, t, paths)
                fetch = qmod.Fetch({(step, method, 60): paths}, f, t)
                rec = {
                    "paths": n_paths,
                    "days": days,
                    "step": step,
                    "method": method,
                    "kept_mib": round(sum(x["bytes"] for x in store.files) / 2**20, 2),
                }
                answers = {}
                for name, src in (("driver", store), ("spark", store.frame())):
                    runs = [timed(lambda: fetch.run(spark, src)) for _ in range(args.reps)]
                    answers[name] = runs[-1][0]
                    rec[f"{name}_ms"] = round(statistics.median(r[1] for r in runs) * 1000, 1)
                    rec[f"{name}_rss_mib"] = round(max(r[2] for r in runs) / 2**20, 1)
                rec["same_answer"] = same(answers["driver"], answers["spark"])
                print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
