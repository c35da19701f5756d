"""`ingest`: drain a pre-written backlog of Carbon line files through
`Engine.start_streaming_ingest(..., available_now=True)` in snapshot mode
(auto-compaction and index maintenance on), while one reader calls
`Engine.render_target` on the newest committed 30-minute window in a closed
loop. Throughput is lines committed per second of stream lifetime; the
latency sample is the reader's.
"""

from __future__ import annotations

import itertools
import threading
import time

import numpy as np

from common import geomean, median, series_match
from corpus import BASE, STEP, Carbon, rollup_config, zipf_picker

HOSTS, METRICS = 50, 40
READ_SPAN_S = 1800


class Ingest:
    def __init__(self, spark, work, seed: int, seconds: float, smoke: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.files = 4 if smoke else max(4, round(seconds / 2))
        self.per_file = 3 if smoke else 6  # 10 s windows per file
        self.carbon = Carbon(seed, HOSTS, METRICS, self.files * self.per_file)
        self.phases = 0

    def _write_backlog(self, drop, c: Carbon, files: int) -> None:
        drop.mkdir(parents=True)
        w = c.windows // files
        for k in range(files):
            (drop / f"lines-{k:04d}.txt").write_text("\n".join(c.lines(k * w, (k + 1) * w)) + "\n")

    def _engine(self, name: str):
        from cassabon_spark.engine import Engine

        d = self.work / name
        return Engine(self.spark, rollup_config(), str(d / "store"), str(d / "index"),
                      table_format="snapshot"), d

    def setup(self) -> None:
        # throwaway stream on a separate small corpus: pays codegen and JIT
        t0 = time.perf_counter()
        warm = Carbon(self.seed + 7, HOSTS, METRICS, 2)
        eng, d = self._engine("warm")
        self._write_backlog(d / "drop", warm, 2)
        q = eng.start_streaming_ingest(str(d / "drop"), str(d / "ckpt"), available_now=True,
                                       max_files_per_trigger=1)
        q.awaitTermination()
        eng.render_target("sumSeries(svc.h00.*)", BASE, warm.end_s, now_s=warm.end_s)
        self.setup_parts = {"warm_s": time.perf_counter() - t0}

    def timed(self, seconds: float, tracer=None) -> dict:
        """One drain of the full backlog into a fresh store. `seconds` sizes
        the backlog (in __init__), not this call."""
        self.phases += 1
        eng, d = self._engine(f"phase{self.phases}")
        self._write_backlog(d / "drop", self.carbon, self.files)
        host = zipf_picker(np.random.default_rng(self.seed + 2), HOSTS)
        ops, errors, live = {}, [], []
        done = threading.Event()
        wpf = self.per_file

        def reader(query):
            for n in itertools.count(1):
                if done.is_set():
                    return
                prog = query.lastProgress
                if prog is None:
                    time.sleep(0.02)
                    continue
                to_s = BASE + (prog["batchId"] + 1) * wpf * STEP  # newest committed close
                target = f"sumSeries(svc.h{host():02d}.*)"
                if tracer is not None:
                    tracer.set_req(f"read-{n}")
                    live.append(len(eng.table.snapshot()["files"]))
                t0 = time.perf_counter()
                try:
                    eng.render_target(target, to_s - READ_SPAN_S, to_s, now_s=to_s)
                    ops[f"read-{n}"] = (time.perf_counter() - t0) * 1000
                except Exception as e:  # noqa: BLE001
                    errors.append(repr(e)[:200])

        t0 = time.perf_counter()
        query = eng.start_streaming_ingest(str(d / "drop"), str(d / "ckpt"), available_now=True,
                                           max_files_per_trigger=1)
        th = threading.Thread(target=reader, args=(query,))
        th.start()
        try:
            query.awaitTermination()
        finally:
            elapsed = time.perf_counter() - t0
            done.set()
            th.join()
        return {"engine": eng, "elapsed": elapsed, "ops": ops, "errors": errors,
                "progress": list(query.recentProgress), "run_id": str(query.runId),
                "files_live": live,
                "engine_stats": {**eng.cache_stats, **eng.prune_stats}}

    def check(self, ph: dict) -> tuple[int, list[str]]:
        """Three independent end-state checks; returns (3, failures)."""
        from pyspark.sql import functions as F

        eng, c = ph["engine"], self.carbon
        bad = []
        cnt = eng.store.filter(F.col("resolution_s") == STEP).agg(F.sum("cnt")).first()[0]
        if cnt != c.n_lines():
            bad.append(f"finest sum(cnt) {cnt} != lines {c.n_lines()}")
        leaves = eng.index.filter(F.col("leaf")).count()
        if leaves != len(c.paths):
            bad.append(f"leaf paths {leaves} != {len(c.paths)}")
        h = 0
        got = eng.render_target(f"sumSeries(svc.h{h:02d}.*)", c.end_s - READ_SPAN_S, c.end_s,
                                now_s=c.end_s)
        want = c.expect_sum_series(c.leaves(h), c.end_s - READ_SPAN_S, c.end_s)
        if not series_match(got["series"], want):
            bad.append("final fresh read differs from the generator's sum")
        return 3, bad

    def summarize(self, ph: dict) -> dict:
        lines = self.carbon.n_lines()
        return {"throughput": lines / ph["elapsed"],
                "p50_ms": median(list(ph["ops"].values())),
                "geomean_ms": geomean(list(ph["ops"].values())),
                "attempted": len(ph["ops"]) + len(ph["errors"]), "failed": len(ph["errors"]),
                "detail": {"lines": lines, "files": self.files, "batches": len(ph["progress"]),
                           "stream_s": round(ph["elapsed"], 3), "reads": len(ph["ops"]),
                           "read_errors": ph["errors"][:3],
                           "batch_p50_ms": median([p["durationMs"]["triggerExecution"]
                                                   for p in ph["progress"]])}}

    def layers(self, ph: dict, tracer) -> tuple[dict, list[str]]:
        """Per-layer figures of a traced phase: the streaming progress
        durations, the sums of the write-path spans, and job groups."""
        from tracing import durations

        prog = ph["progress"]

        def dur(key):
            return median([p["durationMs"].get(key, 0) for p in prog])

        rows = sum(p["numInputRows"] for p in prog)
        spans = tracer.spans
        return {
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.commit_ms": median([p["durationMs"].get("walCommit", 0)
                                           + p["durationMs"].get("commitOffsets", 0)
                                           for p in prog]),
            "streaming.batches": len(prog),
            "streaming.input_rows": rows,
            "streaming.lines": self.carbon.n_lines(),
            "streaming.input_rows_per_line": rows / self.carbon.n_lines(),
            "snapshot.append_ms": sum(durations(spans, "snapshot.append")),
            "snapshot.compact_ms": sum(durations(spans, "snapshot.compact")),
            "snapshot.compactions": tracer.compactions,
            "snapshot.files_live": median(ph["files_live"]),
        }, [ph["run_id"]]
