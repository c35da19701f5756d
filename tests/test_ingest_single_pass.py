"""Ingest write path: one source pass and only the store write's Spark jobs
per streaming microbatch (both indexes are fed on the driver from the
staged store files), no empty index appends, txn-keyed snapshot appends per
(query id, batch id) that survive a crash after indexing, and one index
lookup per render glob."""

from __future__ import annotations

import uuid
from collections import Counter
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from cassabon_spark.config import RollupConfig
from cassabon_spark.engine import Engine
from cassabon_spark.sources.snapshot import SnapshotTable
from cassabon_spark.streaming.ingest import _write_batch

CFG = RollupConfig.from_dict(
    {"default": {"method": "average", "windows": ["10s:1h", "60s:1d"]}}
)


def _batch_lines(k: int) -> list[str]:
    # 12 dot paths plus one tagged series, all inside one day bucket
    return [
        f"svc.h{h}.m{m} {h + m + k}.0 {1000 + 10 * k + h}"
        for h in range(4)
        for m in range(3)
    ] + [f"svc.tagged;dc=x {k}.0 {1000 + 10 * k}"]


def _files(d: Path) -> int:
    return len(list(d.glob("*.parquet")))


def test_stream_reads_each_line_once(spark, tmp_path):
    """Stream with the index on: the microbatch source is
    scanned once, each batch stages one store file per partition, and no
    checkpoint blocks outlive the stream."""
    drop = tmp_path / "drop"
    drop.mkdir()
    batches = [_batch_lines(k) for k in range(2)]
    for k, lines in enumerate(batches):
        (drop / f"f{k}.txt").write_text("\n".join(lines) + "\n")
    sc = spark.sparkContext
    pinned = set(sc._jsc.getPersistentRDDs().keys())
    eng = Engine(spark, CFG, str(tmp_path / "store"), str(tmp_path / "idx"))
    q = eng.start_streaming_ingest(
        str(drop), str(tmp_path / "ckpt"), available_now=True,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    prog = q.recentProgress
    assert len(prog) == 2
    assert sum(p["numInputRows"] for p in prog) == sum(map(len, batches))
    snap = eng.table.snapshot()
    per_part = Counter(tuple(sorted(f["partition"].items())) for f in snap["files"])
    assert list(per_part.values()) == [2]  # one partition, one file per batch
    assert snap["txns"] == {str(q.id): 1}
    assert set(sc._jsc.getPersistentRDDs().keys()) <= pinned
    assert len(eng.get_paths("svc.*.*")) == 12
    assert eng.list_tag_values("dc") == ["x"]


def test_replayed_batch_commits_once(spark, tmp_path):
    """A batch replayed after a crash between the manifest commit and the
    offset commit is a no-op; a new stream id starts its own versions."""
    lines = _batch_lines(0)
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    out = str(tmp_path / "store")
    idx = str(tmp_path / "idx")

    def total_cnt():
        return SnapshotTable(spark, out).read().agg(F.sum("cnt")).first()[0]

    _write_batch(df, 0, CFG, out, idx, stream_id="q1")
    indexed = (_files(Path(idx)), _files(Path(f"{idx}_tags")))
    assert indexed == (1, 1)
    _write_batch(df, 0, CFG, out, idx, stream_id="q1")
    assert total_cnt() == len(lines)
    # the replay commits nothing, so it writes no index or tag-index part
    assert (_files(Path(idx)), _files(Path(f"{idx}_tags"))) == indexed
    # a recreated checkpoint has a new query id: its batch 0 is not a replay
    _write_batch(df, 0, CFG, out, stream_id="q2")
    assert total_cnt() == 2 * len(lines)


def test_crash_after_index_hook_replays_once(spark, tmp_path, monkeypatch):
    """The commit raises once after the before_commit hook has indexed the
    staged paths; the replayed batch commits the lines once and the index
    lists every committed path."""
    lines = _batch_lines(0)
    src = tmp_path / "lines.txt"
    src.write_text("\n".join(lines) + "\n")
    df = spark.read.text(str(src))
    eng = Engine(spark, CFG, str(tmp_path / "store"), str(tmp_path / "idx"))
    commit = SnapshotTable._commit
    crashes = []

    def crash_once(self, parent, payload):
        if not crashes:
            crashes.append(payload["op"])
            raise OSError("injected crash before the manifest commit")
        return commit(self, parent, payload)

    monkeypatch.setattr(SnapshotTable, "_commit", crash_once)
    with pytest.raises(OSError, match="injected"):
        _write_batch(df, 0, CFG, eng.store_dir, eng.index_dir, stream_id="q")
    assert crashes == ["append"]
    assert eng.table.version() is None  # nothing committed
    assert len(eng.get_paths("svc.*.*")) == 12  # but the hook ran
    _write_batch(df, 0, CFG, eng.store_dir, eng.index_dir, stream_id="q")
    _write_batch(df, 0, CFG, eng.store_dir, eng.index_dir, stream_id="q")
    assert eng.store.agg(F.sum("cnt")).first()[0] == len(lines)
    committed = {r["path"] for r in eng.store.select("path").distinct().collect()}
    dot = {p for p in committed if ";" not in p}
    assert {r["path"] for r in eng.get_paths("svc.*.*")} == dot
    assert all(r["leaf"] for r in eng.get_paths("svc.*.*"))
    assert eng.get_tagged_series("dc=x") == sorted(committed - dot)


def _jobs(spark, fn):
    """fn() under a fresh job group -> the number of jobs it started, less
    those of any _jobs call nested in it; the outer group is restored."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    group = f"ingest-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        if outer is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(outer, outer)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_stream_batch_runs_only_the_store_write_jobs(spark, tmp_path, monkeypatch):
    """A microbatch of known dot paths runs the store write's jobs only
    (at most 2) and none for the indexes; a batch that carries a new
    tagged series runs at most one more, for the tag index."""
    from cassabon_spark.operators import index

    index_jobs = []
    update = index.update_indexes

    def counted(*args):
        index_jobs.append(_jobs(spark, lambda: update(*args)))

    monkeypatch.setattr(index, "update_indexes", counted)
    out, idx = str(tmp_path / "store"), str(tmp_path / "idx")

    def batch(k, lines):
        src = tmp_path / f"b{k}.txt"
        src.write_text("\n".join(lines) + "\n")
        df = spark.read.text(str(src))
        return _jobs(spark, lambda: _write_batch(df, k, CFG, out, idx, stream_id="q"))

    dot = [x for x in _batch_lines(0) if ";" not in x]
    batch(0, dot)  # first sightings: one index part, no Spark job
    assert index_jobs == [0]
    assert batch(1, [x.replace(" 1000", " 1001") for x in dot]) + index_jobs[-1] <= 2
    assert index_jobs[-1] == 0
    assert batch(2, dot + ["svc.tagged;dc=y 1.0 1002"]) <= 2
    assert index_jobs[-1] <= 1
    assert len(index.load_index(idx).leaf) == 12 + 4 + 1
    assert _files(Path(idx)) == 1


def test_reingest_known_paths_adds_no_index_file(spark, tmp_path):
    idx = tmp_path / "idx"
    eng = Engine(spark, CFG, str(tmp_path / "store"), str(idx))

    def ingest(rows):
        eng.ingest_lines(spark.createDataFrame([(r,) for r in rows], "line string"))

    ingest(["a.b 1.0 1000", "a.c 2.0 1000", "t;k=v 1.0 1000"])
    tags = Path(eng.tag_index_dir)
    before = (_files(idx), _files(tags))
    ingest(["a.b 3.0 1010", "a.c 4.0 1010", "t;k=v 5.0 1010"])
    assert (_files(idx), _files(tags)) == before
    ingest(["a.d 1.0 1020"])  # a first sighting still appends
    assert _files(idx) == before[0] + 1
    assert [p["path"] for p in eng.get_paths("a.*")] == ["a.b", "a.c", "a.d"]


def test_render_resolves_each_glob_once(spark, tmp_path, monkeypatch):
    eng = Engine(spark, CFG, str(tmp_path / "store"), str(tmp_path / "idx"))
    eng.ingest_lines(
        spark.createDataFrame(
            [(f"a.{p} {v}.0 {1000 + 10 * v}",) for p in "bc" for v in range(1, 5)],
            "line string",
        )
    )
    calls = []
    lookup = eng.get_paths
    monkeypatch.setattr(eng, "get_paths", lambda g: calls.append(g) or lookup(g))
    resp = eng.render_target("movingAverage(a.*,3)", 1000, 1040, now_s=1100)
    assert calls == ["a.*"]
    assert sorted(resp["series"]) == ["a.b", "a.c"]


def test_ingest_lines_reads_input_once(spark, tmp_path):
    """Batch ingest materialises the parsed lines once: the count, the
    rollup and the index update do not each re-run the input, and the
    malformed-line counter stays exact."""
    sc = spark.sparkContext
    lines = [f"a.b{i} {i}.0 {1000 + i}" for i in range(6)] + ["bogus"]
    reads = sc.accumulator(0)

    def tick(line, reads=reads):
        reads.add(1)
        return (line,)

    eng = Engine(spark, CFG, str(tmp_path / "store"), str(tmp_path / "idx"))
    df = spark.createDataFrame(sc.parallelize(lines, 1).map(tick), "line string")
    assert eng.ingest_lines(df) == {"received": 6, "rejected": 1}
    assert reads.value == len(lines)


def test_ingest_releases_its_checkpoints(spark, tmp_path):
    """Neither the parsed rows nor the finest tier that feeds the coarser
    tiers stays persisted after an ingest: the persistent-RDD count is flat
    across ingests (it grew by one per call while the finest tier's
    checkpoint was never released)."""
    src = tmp_path / "lines.txt"
    src.write_text("\n".join(f"a.b{i} {i}.0 {1000 + i}" for i in range(6)) + "\n")
    eng = Engine(spark, CFG, str(tmp_path / "store"), str(tmp_path / "idx"))
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = rdds().size()
    sizes = []
    for _ in range(3):
        eng.ingest_lines(spark.read.text(str(src)), line_col="value")
        sizes.append(rdds().size())
    assert sizes == [before] * 3
