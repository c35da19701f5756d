"""Traced mode: spans around each layer's public functions, installed at
runtime from here (the package itself is not edited), plus Spark job and
stage metrics per job group read back from the in-process status store.

A span records its name (`<layer>.<what>`), start, end, parent span and
request id. The request id is the HTTP request (serve), the microbatch id
(ingest) or the query name (analytics). Spans stay in memory and are
written out when the run ends. A layer's self time is its span's duration
minus its child spans.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

# the layers the per-layer split names, after the package's modules
LAYERS = ("api", "graphite", "engine", "index", "query", "snapshot", "streaming", "queries")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._undo: list[tuple] = []
        self.compactions = 0

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def set_req(self, req) -> None:
        self._tls.req = req

    def req(self):
        return getattr(self._tls, "req", None)

    def innermost(self) -> str | None:
        st = self._stack()
        return st[-1]["name"] if st else None

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": st[-1]["id"] if st else None,
            "req": self.req(),
            "start": time.perf_counter(),
        }
        st.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            self.spans.append(rec)

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    # ------------------------------------------------------------ wrappers
    def wrap(self, owner, attr: str, name: str, around=None, req_from=None) -> None:
        """Replace owner.attr with a spanned version. `req_from(args)` names
        the request the call starts; `around(fn, args, kwargs)` may replace
        the call itself (to set a job group etc.)."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if req_from is not None:
                tracer.set_req(req_from(args))
            with tracer.span(name):
                if around is not None:
                    return around(orig, args, kwargs)
                return orig(*args, **kwargs)

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def install(self, spark) -> None:
        """Spans at every layer boundary the benchmark crosses. The outermost
        engine call on a thread runs under a Spark job group named after the
        request id (`req-<id>`)."""
        from cassabon_spark.engine import Engine
        from cassabon_spark.functions import graphite
        from cassabon_spark.operators import index, query
        from cassabon_spark.sources.snapshot import SnapshotTable
        from cassabon_spark.streaming import ingest

        sc = spark.sparkContext
        tracer = self

        def engine_entry(fn, args, kwargs):
            if getattr(tracer._tls, "grouped", False):
                return fn(*args, **kwargs)
            tracer._tls.grouped = True
            sc.setJobGroup(f"req-{tracer.req()}", "perfbench")
            try:
                return fn(*args, **kwargs)
            finally:
                sc._jsc.clearJobGroup()
                tracer._tls.grouped = False

        for m in ("get_metrics", "render_targets", "render_target", "ingest_lines", "compact"):
            self.wrap(Engine, m, f"engine.{m}", engine_entry)
        self.wrap(Engine, "get_paths", "index.get_paths", engine_entry)
        self.wrap(Engine, "store_for", "snapshot.store_for")
        self.wrap(index, "update_index_incremental", "index.update")
        self.wrap(query, "query_metrics", "query.query_metrics")
        self.wrap(query, "query_metrics_df", "query.build")
        self.wrap(graphite, "parse_target", "graphite.parse")
        self.wrap(graphite, "evaluate_target", "graphite.evaluate")
        self.wrap(SnapshotTable, "append", "snapshot.append")

        def count_compactions(fn, args, kwargs):
            n = fn(*args, **kwargs)
            tracer.compactions += n > 0
            return n

        self.wrap(SnapshotTable, "auto_compact", "snapshot.compact", count_compactions)

        self.wrap(
            ingest, "_write_batch", "streaming.write_batch",
            req_from=lambda args: f"batch-{args[1]}",
        )
        self.wrap(ingest, "parse_carbon_lines", "streaming.parse")
        self.wrap(ingest, "rollup_finest", "streaming.rollup")

        # the concrete (classic) DataFrame class, which defines collect()
        DataFrame = type(spark.range(0))
        orig_collect = DataFrame.collect

        def collect(df):
            inner = tracer.innermost()
            if inner is None:
                return orig_collect(df)
            # the read path's result collects belong to `query`; any other
            # layer's own collects (index lookups, eager query builders) to it
            layer = inner.split(".", 1)[0]
            name = "query.collect" if layer in ("engine", "graphite", "query") else f"{layer}.collect"
            with tracer.span(name):
                return orig_collect(df)

        DataFrame.collect = collect
        self._undo.append((DataFrame, "collect", orig_collect))


# ---------------------------------------------------------------- derivation


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> self time in ms (duration minus direct children)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"] - child.get(s["id"], 0.0)) * 1000 for s in spans}


def durations(spans: list[dict], name: str) -> list[float]:
    return [(s["end"] - s["start"]) * 1000 for s in spans if s["name"] == name]


def layer_self_ms(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        if layer in out:
            out[layer] += st[s["id"]]
    return out


def stage_metrics(sc, groups) -> dict:
    """Jobs, stages and executor totals over the jobs of the given Spark job
    groups, from the status store (works with the UI disabled)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "task_ms": 0, "gc_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    seen = set()
    for g in groups:
        for j in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - evicted or never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["task_ms"] += sd.executorRunTime()
                out["gc_ms"] += sd.jvmGcTime()
                out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out
