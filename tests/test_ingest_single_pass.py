"""Ingest write path: one source pass per streaming microbatch (the store and
both indexes read one materialised rollup), no empty index appends,
txn-keyed snapshot appends per (query id, batch id), and one index lookup
per render glob."""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import pyspark.sql.functions as F

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
    """Snapshot-mode stream with the index on: the microbatch source is
    scanned once, each batch stages one store file per partition, and no
    checkpoint blocks outlive the stream."""
    drop = tmp_path / "drop"
    drop.mkdir()
    batches = [_batch_lines(k) for k in range(2)]
    for k, lines in enumerate(batches):
        (drop / f"f{k}.txt").write_text("\n".join(lines) + "\n")
    sc = spark.sparkContext
    pinned = set(sc._jsc.getPersistentRDDs().keys())
    eng = Engine(
        spark, CFG, str(tmp_path / "store"), str(tmp_path / "idx"),
        table_format="snapshot",
    )
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

    for _ in range(2):
        _write_batch(df, 0, CFG, out, idx, "snapshot", stream_id="q1")
    assert total_cnt() == len(lines)
    # a recreated checkpoint has a new query id: its batch 0 is not a replay
    _write_batch(df, 0, CFG, out, table_format="snapshot", stream_id="q2")
    assert total_cnt() == 2 * len(lines)


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
