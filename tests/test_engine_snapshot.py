"""Engine facade in table_format='snapshot' mode: the same reference API
surface (ingest / GET metrics / DELETE metrics / compact / retention) with
the manifest-based snapshot store underneath — plus the properties only the
snapshot format gives: reader isolation across deletes, manifest-only
retention, time travel, vacuum."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from cassabon_spark.config import RollupConfig
from cassabon_spark.engine import Engine

CFG = RollupConfig.from_dict(
    {"default": {"method": "average", "windows": ["10s:1h", "60s:1d"]}}
)


def _engine(spark, d):
    return Engine(
        spark,
        CFG,
        os.path.join(d, "store"),
        os.path.join(d, "idx"),
        table_format="snapshot",
    )


def _lines(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "line string")


def test_snapshot_ingest_query_roundtrip(spark, tmp_path):
    eng = _engine(spark, str(tmp_path))
    counters = eng.ingest_lines(
        _lines(
            spark,
            [f"svc.api.latency {v}.0 {1000 + i}" for i, v in enumerate(range(1, 21))]
            + ["bogus line"],
        )
    )
    assert counters == {"received": 20, "rejected": 1}
    assert eng.table.version() == 0
    resp = eng.get_metrics(["svc.api.latency"], 995, 1025, now_s=2000)
    assert resp["step"] == 10
    assert resp["series"]["svc.api.latency"] == [None, 5.5, 15.5]


def test_snapshot_delete_isolates_readers_and_time_travels(spark, tmp_path):
    eng = _engine(spark, str(tmp_path))
    eng.ingest_lines(
        _lines(spark, ["a.one 1.0 1001", "a.two 2.0 1001", "a.one 3.0 86401"])
    )
    v0 = eng.table.version()
    reader = eng.store  # resolved against v0's file list
    rep = eng.delete_metrics(["a.one"], 0, 10**10, dry_run=False)
    assert {(r["path"], r["resolution_s"]) for r in rep} == {("a.one", 10), ("a.one", 60)}
    # new snapshot: a.one gone; the pre-delete reader still sees every row
    assert eng.store.filter(F.col("path") == "a.one").count() == 0
    assert reader.filter(F.col("path") == "a.one").count() == 4  # 2 windows x 2 tiers
    # time travel: v0 still queryable by version
    assert eng.table.read(version=v0).filter(F.col("path") == "a.one").count() == 4
    # untouched files carried over, not rewritten
    assert eng.store.filter(F.col("path") == "a.two").count() == 2


def test_snapshot_compact_collapses_partials(spark, tmp_path):
    eng = _engine(spark, str(tmp_path))
    # two ingests land partials for the SAME window
    eng.ingest_lines(_lines(spark, ["a.one 1.0 1001"]))
    eng.ingest_lines(_lines(spark, ["a.one 3.0 1002"]))
    tier10 = eng.store.filter(F.col("resolution_s") == 10)
    assert tier10.count() == 2  # two partial rows pre-compaction
    touched = eng.compact()
    assert touched == 2  # (10s, day) + (60s, day)
    tier10 = eng.store.filter(F.col("resolution_s") == 10)
    assert tier10.count() == 1
    row = tier10.collect()[0]
    assert row["cnt"] == 2 and row["stat"] == 2.0  # merged average (1+3)/2
    # read path agrees after compaction
    resp = eng.get_metrics(["a.one"], 995, 1015, now_s=2000)
    assert resp["series"]["a.one"] == [None, 2.0]


def test_snapshot_retention_is_manifest_only_then_vacuum(spark, tmp_path):
    eng = _engine(spark, str(tmp_path))
    old_ts, new_ts = 1000, 40 * 86400
    eng.ingest_lines(_lines(spark, [f"a.one 1.0 {old_ts}", f"a.one 2.0 {new_ts}"]))
    removed = eng.sweep_retention(now_s=new_ts + 3600)
    # 10s tier (1h ttl) drops the old bucket; 60s tier (1d ttl) likewise
    assert len(removed) == 2
    assert all("1970-01-01" in r for r in removed)
    assert eng.store.filter(F.unix_timestamp("time") < 86400).count() == 0
    # bytes still on disk (manifest-only) until vacuum
    deleted = eng.table.vacuum(retain_last=1)
    assert deleted  # expired + pre-delete-version files reclaimed
    assert eng.store.filter(F.unix_timestamp("time") > 86400).count() == 2


def test_snapshot_streaming_ingest_commits_per_batch(spark, tmp_path):
    lines_dir = tmp_path / "lines"
    lines_dir.mkdir()
    (lines_dir / "batch0.txt").write_text("s.x 1.0 1001\ns.x 3.0 1002\n")
    eng = _engine(spark, str(tmp_path))
    q = eng.start_streaming_ingest(
        str(lines_dir), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert eng.table.version() is not None
    resp = eng.get_metrics(["s.x"], 995, 1015, now_s=2000)
    assert resp["series"]["s.x"] == [None, 2.0]


def test_snapshot_result_cache_hits_and_version_invalidation(spark, tmp_path, monkeypatch):
    eng = _engine(spark, str(tmp_path))
    eng.ingest_lines(_lines(spark, ["c.x 1.0 1001", "c.x 3.0 1002"]))

    from cassabon_spark.operators import query as qmod

    calls = {"n": 0}
    real = qmod.query_metrics

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(qmod, "query_metrics", counting)

    r1 = eng.get_metrics(["c.x"], 995, 1015, now_s=2000)
    r2 = eng.get_metrics(["c.x"], 995, 1015, now_s=2000)
    assert r1 == r2 and calls["n"] == 1  # second call served from cache
    assert eng.cache_stats == {"hits": 1, "misses": 1}

    # any write bumps the snapshot version -> cache key changes -> recompute
    eng.ingest_lines(_lines(spark, ["c.x 5.0 1003"]))
    r3 = eng.get_metrics(["c.x"], 995, 1015, now_s=2000)
    assert calls["n"] == 2
    assert r3["series"]["c.x"] == [None, 3.0]  # (1+3+5)/3 in the 1010 window

    # a wall-clock query (now_s=None) of this old range selects the coarsest
    # tier, not the 10 s one cached above: another key, so a miss
    eng.get_metrics(["c.x"], 995, 1015)
    assert eng.cache_stats["hits"] == 1


def test_result_cache_hits_without_now_s(spark, tmp_path):
    """HTTP /metrics passes no now_s: the key holds the tier that the wall
    clock selects, so repeated requests hit and any write still misses."""
    import time

    eng = _engine(spark, str(tmp_path))
    t = int(time.time()) - 120
    eng.ingest_lines(_lines(spark, [f"c.x 1.0 {t}", f"c.x 3.0 {t + 1}"]))
    r1 = eng.get_metrics(["c.x"], t - 30, t + 30)
    r2 = eng.get_metrics(["c.x"], t - 30, t + 30)
    assert r1 == r2 and r1["step"] == 10
    assert eng.cache_stats == {"hits": 1, "misses": 1}
    eng.ingest_lines(_lines(spark, [f"c.x 5.0 {t + 2}"]))
    r3 = eng.get_metrics(["c.x"], t - 30, t + 30)
    assert eng.cache_stats == {"hits": 1, "misses": 2}
    assert r3 != r1

    # threaded HTTP handlers share the cache: no lost counter update
    import sys
    import threading

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(
                target=lambda: [eng.get_metrics(["c.x"], t - 30, t + 30) for _ in range(25)]
            )
            for _ in range(8)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(interval)
    assert eng.cache_stats == {"hits": 1 + 8 * 25, "misses": 2}


def test_upsert_rollups_point_correction(spark, tmp_path):
    """A correction replaces ALL partials for its key atomically: after two
    ingests land partial rows for the same window, one upsert_rollups swaps
    in a finalized row and the read path sees only it (no stale partials
    double-merging)."""
    eng = _engine(spark, str(tmp_path))
    # two ingests -> two partial rows for the same (path, window) key
    eng.ingest_lines(_lines(spark, ["svc.api.latency 10.0 1001"]))
    eng.ingest_lines(_lines(spark, ["svc.api.latency 30.0 1002"]))
    resp = eng.get_metrics(["svc.api.latency"], 995, 1015, now_s=2000)
    assert resp["series"]["svc.api.latency"] == [None, 20.0]  # avg(10, 30)
    # correct the window to a single finalized row: avg = 5.0
    store = eng.table.read()
    key = store.filter(F.col("resolution_s") == 10).limit(1)
    corrected = (
        key.withColumn("cnt", F.lit(1).cast("bigint"))
        .withColumn("vsum", F.lit(5.0))
        .withColumn("vmin", F.lit(5.0))
        .withColumn("vmax", F.lit(5.0))
        .withColumn("vlast", F.lit(5.0))
        .withColumn("stat", F.lit(5.0))
    )
    rep = eng.upsert_rollups(corrected)
    assert rep["updated"] == 1 and rep["replaced_rows"] == 2
    resp = eng.get_metrics(["svc.api.latency"], 995, 1015, now_s=2000)
    assert resp["series"]["svc.api.latency"] == [None, 5.0]
    # dirs-format engines refuse (non-atomic there)
    import pytest as _pytest

    from cassabon_spark.engine import Engine as _E

    dirs_eng = _E(spark, CFG, str(tmp_path / "dirs_store"))
    with _pytest.raises(NotImplementedError):
        dirs_eng.upsert_rollups(corrected)


def test_store_for_prunes_files_and_stays_exact(spark, tmp_path):
    """Manifest stats pruning on the read path: three days of data land in
    three date buckets; a one-day window query must plan from a strict
    subset of the file list and return exactly the same series as the
    unpruned scan."""
    eng = _engine(spark, str(tmp_path))
    day = 86400
    lines = []
    for d in range(3):
        lines += [f"svc.web.hits {d * 100 + i}.0 {d * day + i * 10}" for i in range(6)]
    eng.ingest_lines(_lines(spark, lines))
    n_all = len(eng.table.files_for())
    # files_for with the same predicates store_for builds for day 1 only
    pruned = eng.table.files_for(
        prune=[("time", ">=", "1970-01-02 00:00:00"), ("time", "<=", "1970-01-02 00:01:00")]
    )
    assert 0 < len(pruned) < n_all, (len(pruned), n_all)
    resp = eng.get_metrics(["svc.web.hits"], day, day + 50, now_s=day + 100)
    # values 100..105 land in 10s windows ending 86410..86460; the [day,
    # day+50] grid holds the five slots 86410..86450
    assert resp["series"]["svc.web.hits"] == [100.0, 101.0, 102.0, 103.0, 104.0]


def test_streaming_ingest_feeds_append_only_cdc(spark, tmp_path):
    """The downstream-consumer contract: every streaming microbatch is one
    append commit, so read_changes(v) between any two watermarks returns
    exactly the rollup rows those microbatches added — an incremental
    export feed with no full-table rescans."""
    lines_dir = tmp_path / "lines"
    lines_dir.mkdir()
    (lines_dir / "b0.txt").write_text("s.y 1.0 1001\n")
    eng = _engine(spark, str(tmp_path))
    q = eng.start_streaming_ingest(
        str(lines_dir), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    v0 = eng.table.version()
    (lines_dir / "b1.txt").write_text("s.y 5.0 1101\ns.z 7.0 1102\n")
    q = eng.start_streaming_ingest(
        str(lines_dir), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    delta = eng.table.read_changes(v0)
    got = {(r["path"], float(r["vsum"])) for r in delta.select("path", "vsum").collect()}
    # only the second batch's partials appear, across both tiers
    assert {p for p, _ in got} == {"s.y", "s.z"}
    assert (delta.filter("path = 's.y'").agg(F.min("vsum")).collect()[0][0]) == 5.0
    # and nothing from before v0 leaks in
    assert delta.filter("vsum = 1.0").count() == 0


def test_prune_stats_track_manifest_effectiveness(spark, tmp_path):
    eng = _engine(spark, str(tmp_path))
    day = 86400
    lines = []
    for d in range(3):
        lines += [f"svc.web.hits {d * 100 + i}.0 {d * day + i * 10}" for i in range(6)]
    eng.ingest_lines(_lines(spark, lines))
    assert eng.prune_stats == {"files_total": 0, "files_read": 0, "reads": 0}
    eng.get_metrics(["svc.web.hits"], day, day + 50, now_s=day + 100)
    s = eng.prune_stats
    assert s["reads"] == 1
    assert 0 < s["files_read"] < s["files_total"]


def test_store_for_skips_path_bounds_for_glob_paths(spark, tmp_path):
    """ADVICE r3: lexicographic path-bound pruning is only sound for
    concrete names — '*' (0x2a) sorts below alphanumerics, so a glob
    leaking into store_for would wrongly prune files holding matches.
    Glob-bearing path lists must skip the path bounds (conservative) and
    still return the right rows."""
    eng = _engine(spark, str(tmp_path))
    eng.ingest_lines(
        _lines(
            spark,
            ["svc.web.hits 1.0 100", "svc.api.hits 2.0 100", "zz.tail 3.0 100"],
        )
    )
    # a concrete list prunes on path bounds: files holding only 'zz.tail'
    # fall outside ['svc.api.hits','svc.web.hits']
    concrete = eng.store_for(paths=["svc.web.hits", "svc.api.hits"])
    assert {r["path"] for r in concrete.select("path").distinct().collect()} >= {
        "svc.web.hits",
        "svc.api.hits",
    }
    # the glob form must NOT prune by bounds ('svc.*' < any alnum name):
    # every matching row is still readable from the returned scan
    globbed = eng.store_for(paths=["svc.*.hits"])
    got = {r["path"] for r in globbed.select("path").distinct().collect()}
    assert {"svc.web.hits", "svc.api.hits"} <= got


def test_zorder_compaction_improves_manifest_pruning(spark, tmp_path):
    """VERDICT r3 #5: at EQUAL file counts and row counts, the z-ordered
    compaction rewrite lets manifest stats pruning plan strictly fewer
    files than an unclustered rewrite, for a path-scoped AND a
    time-windowed probe — and both layouts return identical rows."""
    from cassabon_spark.sources.snapshot import SnapshotTable
    from cassabon_spark.streaming.ingest import compact_snapshot_partition_zorder

    eng = _engine(spark, str(tmp_path))
    lines = [
        f"svc.{chr(97 + p)}.m 1.0 {1000 + i * 10}"
        for p in range(8)
        for i in range(200)
    ]
    eng.ingest_lines(_lines(spark, lines))
    rows = eng.table.read()

    ta = SnapshotTable(spark, str(tmp_path / "flat"))
    ta.append(rows.repartition(4), partition_cols=("resolution_s", "date_bucket"))
    tb = SnapshotTable(spark, str(tmp_path / "zord"))
    tb.append(
        compact_snapshot_partition_zorder(rows, n_files=4),
        partition_cols=("resolution_s", "date_bucket"),
    )
    assert ta.read().count() == tb.read().count() == rows.count()

    path_probe = [("path", ">=", "svc.e.m"), ("path", "<=", "svc.e.m")]
    time_probe = [
        ("time", ">=", "1970-01-01 00:20:00"),
        ("time", "<=", "1970-01-01 00:23:00"),
    ]
    for probe in (path_probe, time_probe):
        n_flat = len(ta.files_for(prune=probe))
        n_z = len(tb.files_for(prune=probe))
        assert n_z < n_flat, (probe, n_z, n_flat)
    # pruned read stays exact
    got = (
        tb.read(prune=path_probe)
        .filter(F.col("path") == "svc.e.m")
        .count()
    )
    assert got == rows.filter(F.col("path") == "svc.e.m").count()


def test_txn_idempotent_append(spark, tmp_path):
    # Delta SetTransaction contract (r9): append(txn=(app, v)) is a no-op
    # when the table already committed version >= v for app — a retried
    # streaming microbatch can never double-append
    import os

    from cassabon_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "txn"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    v1 = t.append(df, txn=("writer", 0))
    n1 = t.read().count()
    files1 = {f["path"] for f in t.files_for()}
    # replaying the SAME txn version: no-op, no new version, no new files
    v2 = t.append(df, txn=("writer", 0))
    assert v2 == v1
    assert t.read().count() == n1
    assert {f["path"] for f in t.files_for()} == files1
    # no orphaned data files left under the root either
    live = {str(tmp_path / "txn" / f["path"]) for f in t.files_for()}
    on_disk = {
        os.path.join(r, fn)
        for r, _, fns in os.walk(tmp_path / "txn")
        for fn in fns
        if fn.endswith(".parquet")
    }
    assert on_disk == live
    # a HIGHER txn version commits
    v3 = t.append(df, txn=("writer", 1))
    assert v3 == v1 + 1
    assert t.read().count() == 2 * n1
    # the txn map survives unrelated commits in between (carried forward)
    t.append(spark.createDataFrame([(9, "z")], "id long, s string"))
    v5 = t.append(df, txn=("writer", 1))  # still a no-op
    assert v5 == t.version() and t.read().count() == 2 * n1 + 1
    # ...and is per-app: a different writer's version 0 commits fine
    t.append(df, txn=("other", 0))
    assert t.read().count() == 3 * n1 + 1
    assert t.snapshot()["txns"] == {"writer": 1, "other": 0}
