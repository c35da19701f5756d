"""Read-path goldens: from-normalization off-by-step, interior/trailing
gap-fill, off-grid merge by method (incl. AVERAGE divide), NaN->null,
multi-path fan-in, delete dry-run (FIXTURES.md §1.6)."""

from __future__ import annotations

import math
import uuid

import pyspark.sql.functions as F
import pytest

from cassabon_spark.config import RollupConfig
from cassabon_spark.engine import Engine
from cassabon_spark.operators import query as qmod
from cassabon_spark.operators.query import (
    delete_metrics,
    merge_slot_expr,
    normalize_from,
    query_metrics,
    query_metrics_df,
)
from cassabon_spark.operators.rollup import rollup_all_tiers

CFG = RollupConfig.from_dict(
    {"default": {"method": "average", "windows": ["10s:1h", "60s:1d"]}}
)


def test_normalize_from_always_advances():
    # metricquery.go:124 — from on an exact boundary still advances a full step
    assert normalize_from(1000, 10) == 1010
    assert normalize_from(1004, 10) == 1010
    assert normalize_from(1009, 10) == 1010


def store(spark, rows):
    metrics = spark.createDataFrame(rows, "path string, value double, ts double")
    return rollup_all_tiers(metrics, CFG)


def test_gapfill_interior_and_trailing(spark):
    # data only in [1000,1010) and [1030,1040) -> interior + trailing nulls
    s = store(spark, [("p", 4.0, 1002.0), ("p", 6.0, 1008.0), ("p", 10.0, 1033.0)])
    resp = query_metrics(spark, s, CFG, ["p"], 995, 1065, now_s=2000)
    assert resp["from"] == 1000 and resp["step"] == 10
    # slots 1000..1060: closes at 1010 (avg 5) and 1040 (10)
    assert resp["series"]["p"] == [None, 5.0, None, None, 10.0, None, None]


def test_unknown_path_all_null(spark):
    s = store(spark, [("p", 1.0, 1000.0)])
    resp = query_metrics(spark, s, CFG, ["nope"], 995, 1025, now_s=2000)
    assert resp["series"]["nope"] == [None, None, None]


def test_nan_scrubbed_to_null(spark):
    s = store(spark, [("p", float("nan"), 1002.0)])
    resp = query_metrics(spark, s, CFG, ["p"], 995, 1015, now_s=2000)
    assert resp["series"]["p"] == [None, None]


def test_merge_slot_ceil_semantics(spark):
    # off-grid rows merge into the NEXT boundary; aligned rows stay
    df = spark.range(1).select(
        merge_slot_expr(F.lit(95), 10).alias("a"),
        merge_slot_expr(F.lit(100), 10).alias("b"),
        merge_slot_expr(F.lit(101), 10).alias("c"),
    )
    r = df.collect()[0]
    assert (r["a"], r["b"], r["c"]) == (100, 100, 110)


def test_merge_average_uses_weighted_sum(spark):
    # two 10s windows with different counts re-bucketed to step=20:
    # [1000,1010): values 1,2,3 (avg 2, cnt 3); [1010,1020): 10 (cnt 1)
    # weighted avg = 16/4 = 4.0; naive avg-of-avgs would be 6.0
    s = store(
        spark,
        [("p", 1.0, 1001.0), ("p", 2.0, 1003.0), ("p", 3.0, 1005.0), ("p", 10.0, 1012.0)],
    )
    grid = query_metrics_df(
        spark, s.filter(F.col("resolution_s") == 10), ["p"], 1000, 1040, 20, "average"
    ).collect()
    by_slot = {r["slot_s"]: r["stat"] for r in grid}
    assert by_slot[1020] == 4.0


def test_multipath_fanin_shared_grid(spark):
    s = store(spark, [("a", 2.0, 1001.0), ("b", 4.0, 1013.0)])
    resp = query_metrics(spark, s, CFG, ["a", "b"], 995, 1025, now_s=2000)
    assert resp["series"]["a"] == [None, 2.0, None]
    assert resp["series"]["b"] == [None, None, 4.0]


def test_tier_pruning_selects_coarse_for_old_range(spark):
    s = store(spark, [("p", 2.0, 1001.0)])
    # now is 2 days after the data: 1h retention of the 10s tier is expired,
    # so the engine must answer from the 60s tier -> step 60
    now = int(1001 + 2 * 86400)
    resp = query_metrics(spark, s, CFG, ["p"], 995, 1200, now_s=now)
    assert resp["step"] == 60
    assert resp["series"]["p"] == [5 * [None], 2.0][1:] or resp["series"]["p"][0] == 2.0


def test_delete_dry_run_counts_per_tier(spark):
    s = store(spark, [("p", 1.0, 1001.0), ("p", 2.0, 1031.0), ("q", 3.0, 1001.0)])
    report, remaining = delete_metrics(s, ["p"], 0, 5000, dry_run=True)
    assert remaining is None
    got = {(r["path"], r["resolution_s"]): r["cnt"] for r in report.collect()}
    # ts 1001 and 1031 land in different windows at BOTH tiers:
    # 10s closes 1010/1040; 60s closes 1020/1080
    assert got == {("p", 10): 2, ("p", 60): 2}
    report2, remaining2 = delete_metrics(s, ["p"], 0, 5000, dry_run=False)
    assert remaining2.filter(F.col("path") == "p").count() == 0
    assert remaining2.filter(F.col("path") == "q").count() > 0


def test_store_read_partition_prunes_tier_and_date(spark, tmp_path):
    """A10 at the plan level: a time-bounded read plans only the matching
    date bucket's files (store_for cuts them from the manifest), and a
    tier-selected read of them shows PartitionFilters on resolution_s AND
    date_bucket — the property that keeps a query against a 100 TB store
    from listing, let alone reading, cold data."""
    day1, day9 = 86400, 9 * 86400
    (tmp_path / "lines.txt").write_text(f"p 1.0 {day1 + 5}\np 2.0 {day9 + 5}\n")
    eng = Engine(spark, CFG, str(tmp_path / "store"), str(tmp_path / "idx"))
    eng.ingest_lines(spark.read.text(str(tmp_path / "lines.txt")), line_col="value")

    store = eng.store_for(day9, day9 + 3600, ["p"])
    # both tiers' day-9 files, none of day 1
    assert {tuple(f.split("/")[-3:-1]) for f in store.inputFiles()} == {
        ("resolution_s=10", "date_bucket=1970-01-10"),
        ("resolution_s=60", "date_bucket=1970-01-10"),
    }
    q = store.filter(
        (F.col("resolution_s") == 60)
        & (F.col("date_bucket") == "1970-01-10")
        & (F.col("path") == "p")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "resolution_s" in pf and "date_bucket" in pf
    # path predicate is DATA-level: pushed to parquet, not partition
    assert "PushedFilters: [IsNotNull(path), EqualTo(path,p)]" in plan
    assert q.count() == 1


def test_sub_step_range_returns_empty_grid(spark):
    """When always-advance normalization steps past `to` (range shorter than
    one step), the grid is empty instead of throwing on inverted bounds."""
    store = spark.createDataFrame([("p", 1.0)], "path string, stat double").selectExpr(
        "path", "timestamp_seconds(1000) as time", "stat"
    )
    out = query_metrics_df(spark, store, ["p"], 1000, 1005, 10, "average")
    assert out.count() == 0
    assert out.columns == ["path", "slot_s", "stat"]


def test_query_metrics_max_datapoints_guard(spark):
    """A year at 1s step would be a 31M-slot grid; the guard coarsens the
    step BEFORE the spine exists, and the hard cell cap raises instead of
    collecting unbounded (VERDICT r1 #2)."""
    import pytest as _pytest

    from cassabon_spark.config import RollupConfig
    from cassabon_spark.operators.query import query_metrics

    cfg = RollupConfig.from_dict(
        {"default": {"method": "sum", "windows": ["1s:730d"]}}
    )
    base = 1_700_000_000
    store = spark.createDataFrame(
        [("m.a", 1.0)], "path string, stat double"
    ).select(
        "path",
        F.timestamp_seconds(F.lit(base + 3600)).alias("time"),
        "stat",
        F.lit(1).cast("bigint").alias("resolution_s"),
    )
    year = 365 * 86400
    resp = query_metrics(
        spark, store, cfg, ["m.a"], base, base + year,
        now_s=base + year + 10, max_datapoints=10_000,
    )
    assert resp["step"] >= year // 10_000
    assert len(resp["series"]["m.a"]) <= 10_000
    # the ingested point survives the coarsened read
    assert any(v == 1.0 for v in resp["series"]["m.a"] if v is not None)
    with _pytest.raises(ValueError, match="max_cells"):
        query_metrics(
            spark, store, cfg, ["m.a"], base, base + year,
            now_s=base + year + 10, max_datapoints=10_000, max_cells=100,
        )


#: one path each with a quote, a backslash, a tag and non-ASCII characters
ODD_PATHS = ['q."x"', "q.b\\s", "cpu;host=a", "temp.zürich"]


@pytest.fixture(scope="module")
def small_engine(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("jvm_grid")
    eng = Engine(spark, CFG, str(d / "store"), str(d / "idx"))
    lines = [f"{p} {i + 1}.0 1001" for i, p in enumerate(ODD_PATHS)]
    lines += ["a.x 1.0 1001", "a.x 3.0 1011", "a.y 2.0 1021"]
    # a text file, not createDataFrame: a Python-RDD input starts
    # Python-worker tasks to read it
    (d / "lines.txt").write_text("\n".join(lines) + "\n", encoding="utf-8")
    eng.ingest_lines(spark.read.text(str(d / "lines.txt")), line_col="value")
    return eng


def _tasks_started(spark, fn):
    """fn() under a fresh job group -> (its result, tasks its jobs started)."""
    sc = spark.sparkContext
    group = f"read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    st = sc.statusTracker()
    stages = [s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds]
    return out, sum(st.getStageInfo(s).numTasks for s in stages)


@pytest.mark.parametrize("case", ["plans", "odd_paths", "empty_reads"])
def test_reads_run_in_the_jvm(spark, small_engine, monkeypatch, case):
    """Reads start no Python worker: the gap-fill grid has no Python-RDD
    scan, any path text survives the trip into the JVM, and a read with
    nothing to scan starts no task at all."""
    eng = small_engine
    if case == "plans":
        grids = [query_metrics_df(spark, eng.store, ["a.x", "a.y"], 995, 1035, 10, "average")]
        collect = qmod.collect_sorted

        def capture(df, keys):
            grids.append(df)
            return collect(df, keys)

        monkeypatch.setattr(qmod, "collect_sorted", capture)
        resp = eng.render_target("movingAverage(a.*,3)", 995, 1035, now_s=2000)
        assert resp["series"] == {"a.x": [None, 1.0, 2.0, 2.0], "a.y": [None, None, None, 2.0]}
        assert len(grids) == 2
        for g in grids:
            assert "ExistingRDD" not in g._jdf.queryExecution().executedPlan().toString()
    elif case == "odd_paths":
        resp = eng.get_metrics(ODD_PATHS, 995, 1015, now_s=2000)
        assert resp["series"] == {p: [None, float(i + 1)] for i, p in enumerate(ODD_PATHS)}
        one = eng.get_metrics(ODD_PATHS[1:2], 995, 1015, now_s=2000)
        assert one["series"] == {ODD_PATHS[1]: [None, 2.0]}
    else:
        resp, n = _tasks_started(
            spark, lambda: eng.render_target("nomatch.*", 995, 1035, now_s=2000)
        )
        assert resp["series"] == {} and n == 0
        far = 10**9
        rows, n = _tasks_started(
            spark, lambda: eng.store_for(far, far + 60, ["a.x"]).collect()
        )
        assert rows == [] and n == 0
        # the grid over that pruned read still answers every slot, as null
        resp = eng.get_metrics(["a.x"], far, far + 30, now_s=far + 60)
        assert resp["series"] == {"a.x": [None, None, None]}
