#!/usr/bin/env python
"""Record what one streaming ingest microbatch costs, phase by phase.

Drains FILES backlog files of the perfbench ingest corpus (seed 21, 2,000
paths `svc.hNN.mNN`, 6 windows of 10 s per file, 24,000 lines per file)
through `Engine.start_streaming_ingest(..., available_now=True,
max_files_per_trigger=1)`, index on, after one warm-up stream of 2 small
files. Every Spark job a batch starts is counted under a job group named
after the phase that started it:

    append   SnapshotTable.append, less its index work (stage + commit)
    index    operators.index.update_indexes (the path and tag indexes)
    compact  SnapshotTable.auto_compact
    other    the rest of _write_batch (a checkpoint of the rollup, if any)

Each phase's ms is its own time, less the phases nested in it. One JSON
line per batch is appended to OUT, tagged with LABEL. With --reader, one
thread renders `sumSeries(svc.hNN.*)` over the newest committed 30 minutes
in a closed loop, as the perfbench reader does: one line per read (ms,
live store files, the batch it overlapped) is appended too, and each batch
line gets the p50 and the live store files of the reads it overlapped.

The script imports the cassabon_spark package of the checkout it sits in,
so the same file run from two checkouts compares them.

Usage: SPARK_GRAFT_CPUS=4 python tools/ingest_batch_probe.py WORKDIR LABEL OUT
           [--files 4] [--repeats 2] [--reader]
A 4-file run takes about 1 min on 4 cores; 30 files with --reader about
2 min. The stores take a few MB per file in WORKDIR.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

HOSTS, METRICS, PER_FILE, READ_SPAN_S = 50, 40, 6, 1800


class Phases:
    """Wraps functions so each call runs under its own job group and its
    own-time is summed per (batch, phase)."""

    def __init__(self, sc):
        self.sc, self.tls = sc, threading.local()
        self.batch = None
        self.ms: dict[tuple, float] = {}
        self.groups: dict[tuple, list[str]] = {}

    def _stack(self) -> list:
        if not hasattr(self.tls, "stack"):
            self.tls.stack = []
        return self.tls.stack

    def _enter(self, phase: str) -> None:
        group = f"probe-{uuid.uuid4().hex}"
        self.groups.setdefault((self.batch, phase), []).append(group)
        self.sc.setJobGroup(group, phase)

    def wrap(self, owner, attr: str, phase: str, batch_arg: int | None = None) -> None:
        orig = getattr(owner, attr)
        probe = self

        def wrapped(*args, **kwargs):
            st = probe._stack()
            if batch_arg is not None:
                probe.batch = int(args[batch_arg])
            probe._enter(phase)
            st.append([phase, time.perf_counter(), 0.0])
            try:
                return orig(*args, **kwargs)
            finally:
                name, t0, child = st.pop()
                took = (time.perf_counter() - t0) * 1000
                key = (probe.batch, name)
                probe.ms[key] = probe.ms.get(key, 0.0) + took - child
                if st:
                    st[-1][2] += took
                    probe._enter(st[-1][0])
                else:
                    probe.sc._jsc.clearJobGroup()

        setattr(owner, attr, wrapped)

    def jobs(self, batch: int, phase: str) -> int:
        tracker = self.sc.statusTracker()
        return sum(
            len(tracker.getJobIdsForGroup(g)) for g in self.groups.get((batch, phase), ())
        )


def drop_files(drop, carbon, files: int) -> None:
    drop.mkdir(parents=True)
    w = carbon.windows // files
    for k in range(files):
        (drop / f"lines-{k:04d}.txt").write_text(
            "\n".join(carbon.lines(k * w, (k + 1) * w)) + "\n"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("workdir")
    ap.add_argument("label")
    ap.add_argument("out")
    ap.add_argument("--files", type=int, default=4)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--reader", action="store_true")
    args = ap.parse_args()

    from pathlib import Path

    from common import start_spark, stop_spark
    from corpus import BASE, STEP, Carbon, rollup_config

    from cassabon_spark.engine import Engine
    from cassabon_spark.operators import index
    from cassabon_spark.sources.snapshot import SnapshotTable
    from cassabon_spark.streaming import ingest

    work = Path(args.workdir)
    shutil.rmtree(work, ignore_errors=True)
    spark = start_spark("ingest-probe")
    probe = Phases(spark.sparkContext)
    probe.wrap(ingest, "_write_batch", "other", batch_arg=1)
    probe.wrap(SnapshotTable, "append", "append")
    probe.wrap(SnapshotTable, "auto_compact", "compact")
    probe.wrap(index, "update_indexes", "index")
    phases = ("append", "index", "compact", "other")

    def stream(name: str, carbon, files: int):
        d = work / name
        drop_files(d / "drop", carbon, files)
        eng = Engine(spark, rollup_config(), str(d / "store"), str(d / "index"))
        reads, done = [], threading.Event()

        def reader(query):
            n = 0
            while not done.is_set():
                prog = query.lastProgress
                if prog is None:
                    time.sleep(0.02)
                    continue
                to_s = BASE + (prog["batchId"] + 1) * PER_FILE * STEP
                n += 1
                live = len(eng.table.snapshot()["files"])
                batch = probe.batch
                t0 = time.perf_counter()
                eng.render_target(
                    f"sumSeries(svc.h{n % HOSTS:02d}.*)", to_s - READ_SPAN_S, to_s, now_s=to_s
                )
                reads.append(
                    {"ms": (time.perf_counter() - t0) * 1000, "files_live": live, "batch": batch}
                )

        q = eng.start_streaming_ingest(
            str(d / "drop"), str(d / "ckpt"), available_now=True, max_files_per_trigger=1
        )
        th = None
        if args.reader:
            th = threading.Thread(target=reader, args=(q,))
            th.start()
        q.awaitTermination()
        done.set()
        if th is not None:
            th.join()
        return eng, list(q.recentProgress), reads

    stream("warm", Carbon(28, HOSTS, METRICS, 2), 2)
    carbon = Carbon(21, HOSTS, METRICS, args.files * PER_FILE)
    with open(args.out, "a") as fh:
        for rep in range(args.repeats):
            probe.ms.clear()
            probe.groups.clear()
            eng, progress, reads = stream(f"run{rep}", carbon, args.files)
            for p in progress:
                b = p["batchId"]
                mine = sorted(r["ms"] for r in reads if r["batch"] == b)
                rec = {
                    "kind": "batch",
                    "label": args.label,
                    "rep": rep,
                    "batch": b,
                    "lines": p["numInputRows"],
                    "add_batch_ms": p["durationMs"].get("addBatch"),
                    "trigger_ms": p["durationMs"].get("triggerExecution"),
                    "lines_per_s": round(p["numInputRows"] / p["durationMs"]["triggerExecution"] * 1000),
                    "ms": {ph: round(probe.ms.get((b, ph), 0.0), 1) for ph in phases},
                    "jobs": {ph: probe.jobs(b, ph) for ph in phases},
                }
                rec["jobs_total"] = sum(rec["jobs"].values())
                if mine:
                    rec["reads"] = len(mine)
                    rec["read_p50_ms"] = round(mine[len(mine) // 2], 1)
                    rec["files_live"] = max(r["files_live"] for r in reads if r["batch"] == b)
                fh.write(json.dumps(rec) + "\n")
                print(json.dumps(rec))
            for r in reads:
                fh.write(json.dumps({"kind": "read", "label": args.label, "rep": rep, **r}) + "\n")
            if reads:
                ms = sorted(r["ms"] for r in reads)
                print(json.dumps({"label": args.label, "rep": rep, "reads": len(ms),
                                  "read_p50_ms": round(ms[len(ms) // 2], 1)}))
            shutil.rmtree(work / f"run{rep}", ignore_errors=True)
    stop_spark(spark)


if __name__ == "__main__":
    main()
