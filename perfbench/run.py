#!/usr/bin/env python3
"""The Carbon product-path benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload serve|ingest|analytics \\
        --seed N --seconds S --trace 0|1 [--smoke]

Each run starts its own Spark (`local[nproc]`), builds its inputs from the
seed, sets up, waits briefly for an idle box, measures for `--seconds`,
checks the outputs against independent computations, and prints two JSON
lines on stdout: a detail line (per-route / per-query figures, run
conditions, load gates), then the result line
`{"correct", "attempted", "failed", "metrics"}`.

`--trace 0` reports the end-to-end metrics. `--trace 1` measures once more
with spans and Spark job groups installed, then once more without, and
reports the per-layer metrics, including the tracing overhead (traced
minus the mean of the untraced phases before and after it). See
perfbench/README.md for every metric and the layer map.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # setup_s counts from here: interpreter and JVM start included

import argparse  # noqa: E402
import sys  # noqa: E402

E2E = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_geomean_ms": "ms",
}

_LAYER_UNITS = {
    "api.self_ms": "ms",
    "api.resp_kb": "kb",
    "graphite.parse_ms": "ms",
    "index.get_paths_ms": "ms",
    "index.get_paths_per_op": "count",
    "index.update_ms": "ms",
    "snapshot.store_for_ms": "ms",
    "snapshot.prune_ratio": "ratio",
    "snapshot.files_read": "count",
    "snapshot.files_total": "count",
    "snapshot.append_ms": "ms",
    "snapshot.compact_ms": "ms",
    "snapshot.compactions": "count",
    "snapshot.files_live": "count",
    "query.build_ms": "ms",
    "query.collect_ms": "ms",
    "engine.cache_hit_ratio": "ratio",
    "engine.cache_hits": "count",
    "engine.cache_misses": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.lines": "count",
    "streaming.input_rows_per_line": "ratio",
    **{f"{layer}.self_ms_per_op": "ms" for layer in
       ("graphite", "engine", "index", "query", "snapshot", "streaming", "queries")},
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.task_ms_per_op": "ms",
    "spark.sched_ms_per_op": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_mb": "mb",
    "spark.spill_mb": "mb",
    "spark.sched_s": "s",
    "trace.overhead_ms": "ms",
    "trace.overhead_share": "ratio",
}

GATE_MAX_WAIT_S = 5.0


def per_layer_units() -> dict:
    from analytics import query_names

    out = dict(_LAYER_UNITS)
    for n in query_names():
        out.update({f"q.{n}.wall_ms": "ms", f"q.{n}.build_ms": "ms", f"q.{n}.task_s": "s"})
    return out


def derive_layers(wl, ph, base_ms, traced, tracer, sc, cores) -> dict:
    """Every per-layer metric from one traced phase; 0 where the workload
    never enters that layer."""
    from common import median
    from tracing import durations, layer_self_ms, stage_metrics

    spans = tracer.spans
    ops = ph["ops"]
    n = max(len(ops), 1)
    m = dict.fromkeys(per_layer_units(), 0.0)
    m["graphite.parse_ms"] = median(durations(spans, "graphite.parse"))
    paths = durations(spans, "index.get_paths")
    m["index.get_paths_ms"] = median(paths)
    m["index.get_paths_per_op"] = len(paths) / n
    m["index.update_ms"] = sum(durations(spans, "index.update"))
    m["snapshot.store_for_ms"] = median(durations(spans, "snapshot.store_for"))
    m["query.build_ms"] = median(durations(spans, "query.build"))
    m["query.collect_ms"] = median(durations(spans, "query.collect"))
    st = ph["engine_stats"]
    if st:
        m["engine.cache_hits"], m["engine.cache_misses"] = st["hits"], st["misses"]
        looked = st["hits"] + st["misses"]
        m["engine.cache_hit_ratio"] = st["hits"] / looked if looked else 0.0
        m["snapshot.files_read"], m["snapshot.files_total"] = st["files_read"], st["files_total"]
        m["snapshot.prune_ratio"] = (
            st["files_read"] / st["files_total"] if st["files_total"] else 0.0
        )
    for layer, ms in layer_self_ms(spans).items():
        if f"{layer}.self_ms_per_op" in m:
            m[f"{layer}.self_ms_per_op"] = ms / n
    specific, extra_groups = wl.layers(ph, tracer)
    m.update(specific)
    per_op = {r: stage_metrics(sc, [f"req-{r}"]) for r in ops}
    tot = stage_metrics(sc, [f"req-{r}" for r in ops] + extra_groups)
    m["spark.jobs_per_op"] = sum(p["jobs"] for p in per_op.values()) / n
    m["spark.stages_per_op"] = sum(p["stages"] for p in per_op.values()) / n
    m["spark.task_ms_per_op"] = sum(p["task_ms"] for p in per_op.values()) / n
    sched = [ops[r] - p["task_ms"] / cores for r, p in per_op.items()]
    m["spark.sched_ms_per_op"] = sum(sched) / n
    m["spark.sched_s"] = sum(sched) / 1000
    m["spark.jobs"], m["spark.stages"] = tot["jobs"], tot["stages"]
    m["spark.task_s"], m["spark.gc_s"] = tot["task_ms"] / 1000, tot["gc_ms"] / 1000
    m["spark.shuffle_mb"] = tot["shuffle_bytes"] / 2**20
    m["spark.spill_mb"] = tot["spill_bytes"] / 2**20
    m["trace.overhead_ms"] = traced["p50_ms"] - base_ms
    m["trace.overhead_share"] = m["trace.overhead_ms"] / base_ms if base_ms else 0.0
    return m


def workload_class(name: str):
    if name == "serve":
        from serve import Serve

        return Serve
    if name == "ingest":
        from ingest import Ingest

        return Ingest
    from analytics import Analytics

    return Analytics


def run(spark, work, args) -> int:
    from common import conditions, emit, load_gate, nproc

    jvm_s = time.perf_counter() - T0
    wl = workload_class(args.workload)(spark, work, args.seed, args.seconds, args.smoke)
    try:
        wl.setup()
        setup_s = time.perf_counter() - T0
        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "smoke": args.smoke, "setup_s": setup_s,
                  "setup_parts": {"start_s": jvm_s, **wl.setup_parts},
                  "conditions": conditions(spark), "gates": [load_gate(GATE_MAX_WAIT_S)]}
        ph = wl.timed(args.seconds)
        s = wl.summarize(ph)
        extra, bad = wl.check(ph)
        attempted, failed = s["attempted"] + extra, s["failed"] + len(bad)
        report["detail"] = s["detail"]
        metrics = {
            "setup_s": setup_s,
            "throughput_per_s": s["throughput"],
            "op_p50_ms": s["p50_ms"],
            "op_geomean_ms": s["geomean_ms"],
        }
        units = E2E
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
            tracer.install(spark)
            report["gates"].append(load_gate(GATE_MAX_WAIT_S))
            try:
                ph2 = wl.timed(args.seconds, tracer)
            finally:
                tracer.restore()
            # untraced once more: the phases warm up as they go, so the
            # traced phase is compared with the mean of one before and one after
            ph3 = wl.timed(args.seconds)
            s2, s3 = wl.summarize(ph2), wl.summarize(ph3)
            for p, sp in ((ph2, s2), (ph3, s3)):
                extra2, bad2 = wl.check(p)
                attempted += sp["attempted"] + extra2
                failed += sp["failed"] + len(bad2)
                bad += bad2
            report["traced_detail"] = s2["detail"]
            base_ms = (s["p50_ms"] + s3["p50_ms"]) / 2
            metrics = derive_layers(wl, ph2, base_ms, s2, tracer, spark.sparkContext, nproc())
            units = per_layer_units()
            span_file = work / "spans.jsonl"
            tracer.dump(span_file)
            report["span_file"] = str(span_file)
            report["spans"] = len(tracer.spans)
        report["failed_ratio"] = failed / max(attempted, 1)
        report["check_failures"] = bad[:10]
        emit(report, failed == 0, max(attempted, 1), failed,
             {k: (metrics[k], u) for k, u in units.items()})
        return 0
    finally:
        if hasattr(wl, "stop"):
            wl.stop()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest", "analytics"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for the smoke test")
    args = ap.parse_args(argv)

    from common import ROOT, prepare, start_spark, stop_spark

    if not (ROOT / "cassabon_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: no cassabon_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    work = prepare(args.workload)
    spark = start_spark(args.workload)
    try:
        return run(spark, work, args)
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    sys.exit(main())
