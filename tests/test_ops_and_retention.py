"""Observability (A23), retention sweep, plan-quality assertions."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cassabon_spark.config import RollupConfig
from cassabon_spark.engine import Engine
from cassabon_spark.plans.observability import ingest_observation, plan_report

CFG = RollupConfig.from_dict(
    {"default": {"method": "average", "windows": ["10s:1h", "60s:1d"]}}
)


def test_ingest_observation_counts(spark):
    metrics = spark.createDataFrame(
        [("a", 1.0, 10.0), ("b", float("nan"), 11.0), ("a", 2.0, 12.0)],
        "path string, value double, ts double",
    )
    observed, obs = ingest_observation(metrics)
    observed.count()
    got = obs.get
    assert got["received"] == 3
    assert got["nan_values"] == 1


def test_retention_sweep_drops_expired_partitions(spark, tmp_path):
    # data on two days; TTL for the 10s tier = 1h*1.1 -> day-old partition dies
    day1 = 86400  # 1970-01-02
    day9 = 9 * 86400  # 1970-01-10
    (tmp_path / "lines.txt").write_text(f"p 1.0 {day1 + 5}\np 2.0 {day9 + 5}\n")
    eng = Engine(spark, CFG, str(tmp_path / "store"), str(tmp_path / "idx"))
    eng.ingest_lines(spark.read.text(str(tmp_path / "lines.txt")), line_col="value")
    before = {tuple(sorted(f["partition"].items())) for f in eng.table.snapshot()["files"]}
    assert len(before) == 4  # 2 tiers x 2 days
    removed = eng.sweep_retention(now_s=day9 + 7200)
    # 10s tier (1h retention): day1 partition expired, day9 kept;
    # 60s tier (1d retention): day1 expired too
    names = {p.split("/")[-2] + "/" + p.split("/")[-1] for p in removed}
    assert names == {
        "resolution_s=10/date_bucket=1970-01-02",
        "resolution_s=60/date_bucket=1970-01-02",
    }
    remaining = eng.store
    assert remaining.count() == 2  # day9 rows in both tiers survive
    assert remaining.filter(F.col("path") == "p").count() == 2


def test_headline_plans_stay_clean(spark, sf_dir):
    """Plan-quality gate: no Python in hot paths, dims broadcast, filters
    pushed — the properties that survive a 100x scale-up."""
    from cassabon_spark.queries import load_registry

    r = load_registry()
    for name in ["q1_pricing_summary", "q5_local_supplier_volume", "carbon_read_gapfill"]:
        rep = plan_report(r[name].fn(spark, sf_dir))
        assert rep["python_evals"] == 0, f"{name}: python in plan"
        assert rep["scans_without_pushdown"] == 0, f"{name}: scan without pushdown"
    q5 = plan_report(r["q5_local_supplier_volume"].fn(spark, sf_dir))
    assert q5["joins"] == ["BroadcastHashJoin"], f"q5 joins: {q5['joins']}"


@pytest.mark.slow  # r15 tiering: registry-wide executed-plan audit sweep, ~13 min — audit coverage, not an operator pin
def test_all_query_plans_python_free(spark, sf_dir):
    """Every registered query must stay JVM-side (whole-stage codegen / Arrow
    never falls back to row-at-a-time Python) — the property that makes the
    surface scale. Since r14 there are NO exceptions: the Pearson compat
    hash (the one allowed Python node r4-r13) is now a pure-Catalyst byte
    fold, so every registered plan must be Python-free. The streaming-ingest
    query runs a streaming job rather than building one inspectable plan."""
    from cassabon_spark.plans.observability import plan_report
    from cassabon_spark.queries import load_registry

    skip = {"carbon_streaming_ingest"}  # executes a stream, no single plan
    for name, qd in load_registry().items():
        if name in skip:
            continue
        rep = plan_report(qd.fn(spark, sf_dir))
        assert rep["python_evals"] == 0, f"{name}: python eval in plan"
