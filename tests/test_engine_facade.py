"""Engine facade: the reference's full API surface end-to-end over one
durable store — ingest, GET /metrics, GET /paths, DELETE /metrics (dry-run
default + partition-scoped rewrite), DELETE /paths."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from cassabon_spark.config import RollupConfig
from cassabon_spark.engine import Engine

CFG = RollupConfig.from_dict(
    {"default": {"method": "average", "windows": ["10s:1h", "60s:1d"]}}
)


def _engine(spark, d):
    return Engine(spark, CFG, os.path.join(d, "store"), os.path.join(d, "idx"))


def _lines(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "line string")


def test_ingest_query_index_roundtrip(spark, tmp_path):
    eng = _engine(spark, str(tmp_path))
    counters = eng.ingest_lines(
        _lines(
            spark,
            [f"svc.api.latency {v}.0 {1000 + i}" for i, v in enumerate(range(1, 21))]
            + ["svc.api.errors 3.0 1004", "bogus line", "svc.api.errors 5.0 1016"],
        )
    )
    assert counters == {"received": 22, "rejected": 1}

    # GET /metrics: windows close at 1010 (1..10 avg 5.5), 1020 (11..20 avg 15.5)
    resp = eng.get_metrics(["svc.api.latency"], 995, 1025, now_s=2000)
    assert resp["step"] == 10
    assert resp["series"]["svc.api.latency"] == [None, 5.5, 15.5]

    # GET /paths: ancestors indexed, glob+depth semantics
    assert [p["path"] for p in eng.get_paths("svc.api.*")] == [
        "svc.api.errors",
        "svc.api.latency",
    ]
    assert [p["path"] for p in eng.get_paths("svc.*")] == ["svc.api"]
    assert not eng.get_paths("svc.api")[0]["leaf"]

    # incremental index update: re-ingesting known paths adds nothing
    eng.ingest_lines(_lines(spark, ["svc.api.latency 9.0 2000"]))
    assert eng.index.count() == 4  # svc, svc.api, + 2 leaves


def test_delete_metrics_dry_run_then_rewrite(spark, tmp_path):
    eng = _engine(spark, str(tmp_path))
    # two days of data so the delete is partition-scoped
    day1, day9 = 86400, 9 * 86400
    eng.ingest_lines(
        _lines(
            spark,
            [f"p.x 1.0 {day1 + i}" for i in range(5)]
            + [f"p.x 2.0 {day9 + i}" for i in range(5)]
            + [f"p.y 7.0 {day9 + i}" for i in range(5)],
        )
    )
    before_files = set(os.listdir(os.path.join(str(tmp_path), "store")))

    # dry-run (the default): reports, deletes nothing
    report = eng.delete_metrics(["p.x"], day1, day1 + 100)
    assert {(r["path"], r["resolution_s"]) for r in report} == {("p.x", 10), ("p.x", 60)}
    assert eng.store.filter(F.col("path") == "p.x").count() > 0
    assert set(os.listdir(os.path.join(str(tmp_path), "store"))) == before_files

    # real delete: day1 partitions emptied -> dropped; day9 rows untouched
    eng.delete_metrics(["p.x"], day1, day1 + 100, dry_run=False)
    left = eng.store
    assert left.filter(F.unix_timestamp("time") < day9).count() == 0
    assert left.filter(F.col("path") == "p.x").count() == 2  # day9, both tiers
    assert left.filter(F.col("path") == "p.y").count() == 2
    resp = eng.get_metrics(["p.x"], day1 - 5, day1 + 15, now_s=day1 + 3000)
    assert all(v is None for v in resp["series"]["p.x"])


def test_delete_metrics_partial_partition_rewrite(spark, tmp_path):
    """Deleting one path leaves the other path's rows in the SAME partition."""
    eng = _engine(spark, str(tmp_path))
    eng.ingest_lines(_lines(spark, ["a.one 1.0 1001", "a.two 2.0 1001"]))
    eng.delete_metrics(["a.one"], 0, 5000, dry_run=False)
    assert eng.store.select("path").distinct().collect()[0]["path"] == "a.two"
    assert eng.store.count() == 2  # a.two in both tiers


def test_delete_paths_glob_scoped(spark, tmp_path):
    eng = _engine(spark, str(tmp_path))
    eng.ingest_lines(
        _lines(spark, ["svc.api.latency 1.0 1000", "svc.db.latency 2.0 1000"])
    )
    assert eng.delete_paths("svc.api.*") == 1
    assert eng.delete_paths("svc.api.*") == 0  # idempotent
    remaining = {r["path"] for r in eng.index.collect()}
    assert remaining == {"svc", "svc.api", "svc.db", "svc.db.latency"}


def test_streaming_ingest_then_compact_via_engine(spark, tmp_path):
    """Facade wiring of the streaming path: microbatch partials land in the
    store, Engine.compact collapses them, queries agree before and after."""
    import os

    eng = _engine(spark, str(tmp_path))
    drop, ckpt = str(tmp_path / "drop"), str(tmp_path / "ckpt")
    os.makedirs(drop)
    with open(os.path.join(drop, "a.txt"), "w") as f:
        f.write("".join(f"s.m {v}.0 {1000 + i}\n" for i, v in enumerate(range(1, 11))))
    with open(os.path.join(drop, "b.txt"), "w") as f:
        f.write("".join(f"s.m {v}.0 {1010 + i}\n" for i, v in enumerate(range(11, 21))))
    q = eng.start_streaming_ingest(drop, ckpt, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(120)

    before = eng.get_metrics(["s.m"], 995, 1025, now_s=2000)
    assert before["series"]["s.m"] == [None, 5.5, 15.5]
    n_rows_before = eng.store.count()
    touched = eng.compact()
    assert touched >= 1
    assert eng.store.count() <= n_rows_before
    after = eng.get_metrics(["s.m"], 995, 1025, now_s=2000)
    assert after == before


def test_empty_engine_is_graceful(spark, tmp_path):
    """Endpoints on a fresh engine answer like the reference over empty
    tables: null grid, empty listings, zero deletes — no exceptions."""
    eng = _engine(spark, str(tmp_path))
    resp = eng.get_metrics(["no.such.path"], 995, 1025, now_s=2000)
    assert resp["step"] == 10
    assert resp["series"] == {"no.such.path": [None, None, None]}
    assert eng.get_paths("*.*") == []
    assert eng.delete_metrics(["x"], 0, 10) == []
    assert eng.delete_paths("x.*") == 0


def test_mixed_tier_paths_query(spark, tmp_path):
    """Paths routed to different finest windows answer in one call; the
    response step is the finest across groups (documented divergence: the
    reference serves the first path's tier for all, metricquery.go:102-121)."""
    import os

    cfg = RollupConfig.from_dict(
        {
            r"^fast\..*": {"method": "sum", "windows": ["10s:1h"]},
            "default": {"method": "average", "windows": ["60s:1d"]},
        }
    )
    eng = Engine(spark, cfg, os.path.join(str(tmp_path), "store"))
    eng.ingest_lines(
        _lines(spark, ["fast.a 1.0 1001", "fast.a 2.0 1002", "slow.b 10.0 1001"])
    )
    resp = eng.get_metrics(["fast.a", "slow.b"], 995, 1065, now_s=2000)
    assert resp["step"] == 10
    # fast.a on the 10s grid: window close 1010 carries sum 3.0
    assert resp["series"]["fast.a"][:2] == [None, 3.0]
    # slow.b answered on its own 60s tier (one slot, close 1020 -> merged at 1020)
    assert any(v == 10.0 for v in resp["series"]["slow.b"] if v is not None)


def test_engine_stats(spark, tmp_path):
    eng = _engine(spark, str(tmp_path))
    assert eng.stats() == {"tiers": {}, "index_entries": 0, "leaf_paths": 0}
    eng.ingest_lines(_lines(spark, ["a.b 1.0 1001", "a.c 2.0 1002"]))
    s = eng.stats()
    assert set(s["tiers"]) == {10, 60}
    assert s["tiers"][10]["rows"] == 2
    assert s["index_entries"] == 3  # a, a.b, a.c
    assert s["leaf_paths"] == 2


def test_path_first_seen_as_prefix_becomes_leaf(spark, tmp_path):
    """a.b indexed as a prefix of a.b.c, then ingested as a metric itself:
    one a.b row, now a leaf, so a.* renders it."""
    eng = _engine(spark, str(tmp_path))
    eng.ingest_lines(_lines(spark, ["a.b.c 1.0 1001"]))
    eng.ingest_lines(_lines(spark, ["a.b 2.0 1002"]))
    assert eng.get_paths("a.*") == [
        {"path": "a.b", "depth": 2, "tenant": "", "leaf": True}
    ]
    assert eng.stats()["leaf_paths"] == 2  # a.b.c and a.b
    assert eng.index.filter(F.col("path") == "a.b").count() == 1
    assert list(eng.render_target("a.*", 995, 1015, now_s=2000)["series"]) == ["a.b"]


def test_render_pipeline_with_function_chain(spark, tmp_path):
    """Graphite /render in-engine: glob target -> index expansion -> grid ->
    function chain."""
    eng = _engine(spark, str(tmp_path))
    eng.ingest_lines(
        _lines(
            spark,
            [f"svc.api.lat {v}.0 {1000 + i}" for i, v in enumerate(range(1, 21))]
            + ["svc.db.lat 100.0 1005"],
        )
    )
    # raw render over the glob: both leaves expanded
    resp = eng.render_target("svc.*.lat", 995, 1025, now_s=2000)
    assert set(resp["series"]) == {"svc.api.lat", "svc.db.lat"}
    assert resp["series"]["svc.api.lat"] == [None, 5.5, 15.5]

    # chained: scale then absolute-of-derivative
    resp2 = eng.render_target(
        "absolute(derivative(scale(svc.api.*,2)))", 995, 1025, now_s=2000
    )
    assert resp2["series"]["svc.api.lat"] == [None, None, 20.0]  # |2*15.5 - 2*5.5|


def test_register_views_sql_surface(spark, tmp_path):
    eng = _engine(spark, str(tmp_path))
    eng.ingest_lines(
        _lines(spark, [f"svc.db.conns {v}.0 {1000 + i}" for i, v in enumerate(range(8))])
    )
    views = eng.register_views()
    assert views == ["carbon_store", "carbon_index"]
    row = spark.sql(
        "SELECT COUNT(*) AS n FROM carbon_store WHERE resolution_s = 10 "
        "AND path = 'svc.db.conns'"
    ).collect()[0]
    assert row["n"] >= 1
    leaf = spark.sql(
        "SELECT path FROM carbon_index WHERE leaf ORDER BY path"
    ).collect()
    assert [r["path"] for r in leaf] == ["svc.db.conns"]
