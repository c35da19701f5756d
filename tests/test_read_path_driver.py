"""The driver-side read executor (operators.query.arrow_grid) against the
Spark plan (query_metrics_df): same grid for every method, NaN rule, step
and bound; the engine answers the same through either; and a read
runs no Spark job for /metrics and only the function chain's for /render."""

from __future__ import annotations

import math
import uuid

import pytest
from hypothesis import HealthCheck, example, given, settings
from test_read_path_fuzz import params_strategy, series_strategy

from cassabon_spark.config import RollupConfig
from cassabon_spark.engine import Engine
from cassabon_spark.operators import query as qmod
from cassabon_spark.operators.rollup import PARTITION_COLS, rollup_tiers, with_date_bucket
from cassabon_spark.session import release_checkpoint
from cassabon_spark.sources.snapshot import SnapshotTable

METHODS = ["average", "sum", "min", "max", "last"]
#: one route per method, so one store holds every method's stat column
CFG = RollupConfig.from_dict(
    {
        m: {"pattern": rf"^{m}\.", "method": m, "windows": ["10s:1d", "60s:2d"]}
        for m in METHODS
    }
)
NAN = float("nan")


def _write(spark, root: str, rows) -> SnapshotTable:
    """Every method family's copy of `rows`, rolled up to both tiers and
    appended in two commits (so windows also merge partial rows at read)."""
    table = SnapshotTable(spark, root)
    family = [(f"{m}.{p}", float(v), float(ts)) for m in METHODS for p, v, ts in rows]
    for half in (family[::2], family[1::2]):
        if not half:
            continue
        metrics = spark.createDataFrame(half, "path string, value double, ts double")
        finest, tiers = rollup_tiers(metrics, CFG)
        table.append(with_date_bucket(tiers), partition_cols=PARTITION_COLS)
        release_checkpoint(finest)
    return table


def _same_grid(arrow, spark_rows):
    assert [(r["path"], r["slot_s"]) for r in arrow] == [
        (r["path"], r["slot_s"]) for r in spark_rows
    ]
    for a, s in zip(arrow, spark_rows):
        if a["stat"] is None or s["stat"] is None:
            assert a["stat"] is None and s["stat"] is None, (a, s)
        else:
            # summation order may differ in the last bits
            assert math.isclose(a["stat"], s["stat"], rel_tol=1e-9), (a, s)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(series_strategy, params_strategy)
# all-NaN and mixed-NaN cells for every method
@example([("p.a", NAN, 1002), ("p.a", NAN, 1005), ("p.b", 1.0, 1003), ("p.b", NAN, 1004)],
         ("max", 10, 995, 60))
# LAST ties on last_ts across two commits: the larger value wins, NaN most
@example([("p.a", 5.0, 1002), ("p.a", 1.0, 1002), ("p.b", NAN, 1003), ("p.b", 2.0, 1003)],
         ("last", 10, 995, 60))
# a range holding no rows, and one whose normalized start passes `to`
@example([("p.a", 1.0, 1002)], ("sum", 20, 1500, 60))
@example([("p.a", 1.0, 1002), ("p.b", 2.0, 1012)], ("last", 30, 1000, 10))
def test_driver_grid_matches_spark_plan(spark, tmp_path_factory, rows, params):
    method, step, from_s, length = params
    to_s = from_s + length
    root = str(tmp_path_factory.mktemp("driver_grid") / uuid.uuid4().hex)
    table = _write(spark, root, rows)
    for m, res in [(m, 10) for m in METHODS] + [(method, 60)]:
        paths = [f"{m}.p.a", f"{m}.p.b"]
        store = qmod.pin_store(table, from_s, to_s, paths)
        arrow = qmod.arrow_grid(store, paths, from_s, to_s, step, m, resolution_s=res)
        grid = qmod.query_metrics_df(
            spark, store.frame(), paths, from_s, to_s, step, m, resolution_s=res
        )
        _same_grid(arrow.to_pylist(), qmod.collect_sorted(grid, ["path", "slot_s"]).to_pylist())


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("driver_reads")
    eng = Engine(spark, CFG, str(d / "store"), str(d / "idx"))
    lines = [
        f"{m}.{p} {v} {ts}"
        for m in METHODS
        for p, v, ts in [
            ("x", "1.0", 1001), ("x", "3.0", 1011), ("x", "nan", 1013),
            ("y", "2.0", 1021), ("y", "5.0", 1022), ("z", "nan", 1031),
        ]
    ]
    (d / "lines.txt").write_text("\n".join(lines) + "\n", encoding="utf-8")
    eng.ingest_lines(spark.read.text(str(d / "lines.txt")), line_col="value")
    return eng


def _jobs(spark, fn):
    """fn() under a fresh job group -> (its result, jobs it started)."""
    sc = spark.sparkContext
    group = f"read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


TARGETS = [
    "movingAverage(average.*,3)",
    "sumSeries(sum.*)",
    "max.*",
    "consolidateBy(last.*,'max')",
    "timeShift(min.*,'10s')",
]


def test_engine_answers_the_same_through_the_spark_plan(spark, engine, monkeypatch):
    """Fetch runs the Spark plan (query_metrics_df) over a DataFrame store:
    hand the engine's reads their pinned files as a frame, and every
    /metrics and /render answer stays the same."""
    paths = [f"{m}.{p}" for m in METHODS for p in "xyz"]

    def answers():
        engine._result_cache.clear()
        metrics = [
            _jobs(spark, lambda f=f: engine.get_metrics(paths, f, f + 60, now_s=2000))
            for f in (995, 1000, 1010)
        ]
        renders = [engine.render_target(t, 995, 1045, now_s=2000) for t in TARGETS]
        capped = engine.render_target("average.*", 995, 1295, now_s=2000, max_datapoints=4)
        return metrics, renders + [capped]

    driver_metrics, driver_renders = answers()
    pin = engine._pin
    monkeypatch.setattr(engine, "_pin", lambda *a: pin(*a).frame())
    spark_metrics, spark_renders = answers()
    assert [r for r, _ in driver_metrics] == [r for r, _ in spark_metrics]
    assert driver_renders == spark_renders
    assert all(n == 0 for _, n in driver_metrics)
    assert all(n > 0 for _, n in spark_metrics)  # the frame really ran the Spark plan
    assert driver_metrics[0][0]["series"]["max.x"] == [None, 1.0, None, None, None, None]


def test_small_reads_run_few_jobs(spark, engine):
    """/metrics runs no Spark job; a render runs one (its grids are local
    relations on one partition, so windows, aggregates and unions plan no
    exchange, and every target is collected at once)."""
    engine._result_cache.clear()
    resp, n = _jobs(
        spark, lambda: engine.get_metrics(["average.x", "average.y"], 995, 1035, now_s=2000)
    )
    assert n == 0
    assert resp["series"] == {"average.x": [None, 1.0, None, None], "average.y": [None, None, None, 3.5]}
    resp, n = _jobs(
        spark, lambda: engine.render_target("movingAverage(average.*,3)", 995, 1035, now_s=2000)
    )
    assert n == 1
    assert resp["series"]["average.y"] == [None, None, None, 3.5]
    resp, n = _jobs(spark, lambda: engine.render_target("sumSeries(average.*)", 995, 1035, now_s=2000))
    assert n == 1
    assert resp["series"] == {"sumSeries": [None, 1.0, None, 3.5]}
    # two globs: the union of their grids stays on one partition
    resp, n = _jobs(
        spark, lambda: engine.render_target("sumSeries(average.*, max.*)", 995, 1035, now_s=2000)
    )
    assert n == 1
    assert resp["series"] == {"sumSeries": [None, 2.0, None, 8.5]}


def test_render_jobs_do_not_grow_with_targets(spark, engine):
    one, n1 = _jobs(spark, lambda: engine.render_targets(TARGETS[:1], 995, 1045, now_s=2000))
    five, n5 = _jobs(spark, lambda: engine.render_targets(TARGETS, 995, 1045, now_s=2000))
    assert n1 == 1 and n5 <= n1
    assert five["targets"][0] == one["targets"][0]


def test_divide_series_lists_counts_in_one_job(spark, engine):
    """The two list lengths come from one job, the answer from one more;
    a length mismatch is still a target error."""
    from cassabon_spark.functions.graphite import TargetSyntaxError

    resp, n = _jobs(
        spark,
        lambda: engine.render_target("divideSeriesLists(max.*, sum.*)", 995, 1045, now_s=2000),
    )
    assert n == 2
    assert resp["series"]["max.x"] == [None, 1.0, None, None, None]
    with pytest.raises(TargetSyntaxError, match="dividend has 3 series but divisor has 1"):
        engine.render_target("divideSeriesLists(max.*, sum.x)", 995, 1045, now_s=2000)


@pytest.mark.parametrize(
    "target",
    ["movingAverage(average.*,3)", "sumSeries(average.*, max.*)", "divideSeries(max.*, sum.y)"],
)
def test_render_plans_have_no_exchange(spark, engine, monkeypatch, target):
    grids = []
    collect = qmod.collect_sorted

    def capture(df, keys):
        grids.append(df)
        return collect(df, keys)

    monkeypatch.setattr(qmod, "collect_sorted", capture)
    resp = engine.render_target(target, 995, 1045, now_s=2000)
    assert resp["series"]
    (grid,) = grids
    assert "Exchange" not in grid._jdf.queryExecution().executedPlan().toString()


def test_render_targets_match_one_target_renders(spark, engine):
    """One collect for five targets answers each exactly as its own render:
    a presentation order (__ord), a coarser step (steps/starts), series on
    two steps in one target, and a glob that matches nothing."""
    targets = [
        "movingAverage(average.*,3)",
        "sortByName(max.*)",
        "summarize(sum.*,'1min')",
        "group(summarize(average.x,'1min'), last.y)",
        "nomatch.*",
    ]
    merged = engine.render_targets(targets, 995, 1165, now_s=2000)
    singles = [engine.render_target(t, 995, 1165, now_s=2000) for t in targets]
    assert [r["target"] for r in merged["targets"]] == targets
    for got, want in zip(merged["targets"], singles):
        got = dict(got)
        del got["target"]
        assert got == want
        assert list(got["series"]) == list(want["series"])  # series order too
    assert singles[3]["steps"] == {"average.x": 60, "last.y": 10}
    assert "starts" in singles[3]
    assert singles[4] == {"from": 995, "to": 1165, "step": 0, "series": {}}
    assert merged["step"] == 10 and merged["steps"]["sum.x"] == 60
