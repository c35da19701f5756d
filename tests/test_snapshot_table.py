"""SnapshotTable (sources/snapshot.py): the manifest-based Delta-lite store.

Covers the ACID properties the parquet-directory store can't give:
snapshot-isolated readers across delete/compact, atomic commit (link-if-
absent -> CommitConflict for racers), manifest-level partition pruning,
time travel, retention as a manifest-only commit, vacuum reclamation."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cassabon_spark.sources.snapshot import CommitConflict, SnapshotTable


def _mk(spark, tmp_path, rows):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    df = spark.createDataFrame(rows, "k string, v bigint, res bigint, day string")
    t.append(df, partition_cols=("res", "day"))
    return t


ROWS = [
    ("a", 1, 10, "2020-01-01"),
    ("a", 2, 10, "2020-01-02"),
    ("b", 3, 10, "2020-01-01"),
    ("b", 4, 60, "2020-01-01"),
]


def test_append_read_roundtrip_and_partition_columns(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    got = {(r["k"], r["v"], r["res"], r["day"]) for r in t.read().collect()}
    assert got == set(ROWS)
    assert t.version() == 0
    # second append becomes a new snapshot containing both
    t.append(
        spark.createDataFrame([("c", 5, 10, "2020-01-03")], "k string, v bigint, res bigint, day string"),
        partition_cols=("res", "day"),
    )
    assert t.version() == 1
    assert t.read().count() == 5
    assert t.read(version=0).count() == 4  # time travel


def test_manifest_partition_pruning_cuts_file_list(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    pruned = t.read(partition_filter=lambda p: p["res"] == "10" and p["day"] == "2020-01-01")
    rows = pruned.collect()
    assert {(r["k"], r["v"]) for r in rows} == {("a", 1), ("b", 3)}
    # the pruned plan reads strictly fewer files than the full snapshot
    n_all = len(t.snapshot()["files"])
    n_hit = len([f for f in t.snapshot()["files"] if f["partition"]["day"] == "2020-01-01" and f["partition"]["res"] == "10"])
    assert n_hit < n_all


def test_delete_rewrites_only_hit_files_and_isolates_readers(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    before = t.read()  # resolved against v0's file list
    before_files = set(f["path"] for f in t.snapshot()["files"])
    rep = t.delete_where(F.col("k") == "a", partition_cols=("res", "day"))
    assert rep["deleted"] == 2
    # only the files containing k='a' were rewritten
    assert rep["rewritten_files"] == 2
    after_files = set(f["path"] for f in t.snapshot()["files"])
    assert before_files & after_files  # untouched files carried over
    # new snapshot lost the rows; the old READER still sees them (files intact)
    assert {r["k"] for r in t.read().collect()} == {"b"}
    assert before.filter(F.col("k") == "a").count() == 2
    # crash-safety shape: old files still on disk until vacuum
    assert t.read(version=0).count() == 4


def test_delete_dropping_whole_file_leaves_no_replacement(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    rep = t.delete_where(F.col("res") == 60, partition_cols=("res", "day"))
    assert rep["deleted"] == 1
    snap = t.snapshot()
    assert all(f["partition"]["res"] != "60" for f in snap["files"])
    assert t.read().count() == 3


def test_rewrite_partition_compacts_to_fewer_files(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    # append a second batch into the same partition -> 2+ files there
    t.append(
        spark.createDataFrame([("a", 9, 10, "2020-01-01")], "k string, v bigint, res bigint, day string"),
        partition_cols=("res", "day"),
    )
    part = {"res": "10", "day": "2020-01-01"}
    n_before = len([f for f in t.snapshot()["files"] if f["partition"] == part])
    assert n_before >= 2
    t.rewrite_partition(part, lambda df: df.coalesce(1), partition_cols=("res", "day"))
    files = [f for f in t.snapshot()["files"] if f["partition"] == part]
    assert len(files) == 1
    assert t.read().filter((F.col("res") == 10) & (F.col("day") == "2020-01-01")).count() == 3


def test_drop_partitions_is_manifest_only(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    data_files_before = {p.as_posix() for p in Path(t.root).rglob("*.parquet")}
    v, dropped = t.drop_partitions(lambda p: p["day"] == "2020-01-02")
    assert dropped == [{"day": "2020-01-02", "res": "10"}]
    # no data IO: every physical file still present, only the manifest changed
    assert {p.as_posix() for p in Path(t.root).rglob("*.parquet")} == data_files_before
    assert t.read().count() == 3
    assert t.read(version=0).count() == 4


def test_commit_conflict_detected_and_append_retries(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    # simulate a racing writer publishing version 1 first
    racer = json.dumps({"version": 1, "parent": 0, "op": "append", "files": t.snapshot()["files"], "schema": t.snapshot()["schema"]})
    (Path(t.root) / "_manifests" / "v000000000001.json").write_text(racer)
    with pytest.raises(CommitConflict):
        t._commit(0, {"op": "x", "files": [], "schema": t.snapshot(0)["schema"]})
    # append survives the race: retries against the racer's head
    t.append(
        spark.createDataFrame([("z", 7, 10, "2020-01-09")], "k string, v bigint, res bigint, day string"),
        partition_cols=("res", "day"),
    )
    assert t.version() == 2
    assert t.read().filter(F.col("k") == "z").count() == 1


def test_vacuum_reclaims_unreferenced_files_and_old_manifests(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    t.delete_where(F.col("k") == "a", partition_cols=("res", "day"))
    all_files = {p.relative_to(t.root).as_posix() for p in Path(t.root).rglob("*.parquet")}
    live = {f["path"] for f in t.snapshot()["files"]}
    assert all_files - live  # old-version files exist pre-vacuum
    deleted = t.vacuum(retain_last=1)
    assert set(deleted) == all_files - live
    assert t.versions() == [1]
    # table still reads cleanly after vacuum
    assert {r["k"] for r in t.read().collect()} == {"b"}


def test_vacuum_grace_window_spares_inflight_append(spark, tmp_path):
    """ADVICE r2 #3: a grace-windowed vacuum (the auto_compact path) must
    NOT delete freshly staged-but-uncommitted files of a concurrent writer
    — simulate the in-flight window by staging without committing."""
    t = _mk(spark, tmp_path, ROWS)
    t.delete_where(F.col("k") == "a", partition_cols=("res", "day"))
    # writer B: staged (hard-linked into place) but manifest NOT committed
    staged = t._stage(
        spark.createDataFrame(
            [("w", 9, 10, "2020-01-09")], "k string, v bigint, res bigint, day string"
        ),
        ("res", "day"),
    )
    live = {f["path"] for f in t.snapshot()["files"]}
    deleted = t.vacuum(retain_last=1, grace_s=600)
    # the old-version files are also young here; the point is the staged
    # file specifically survived and the commit can proceed
    for f in staged:
        assert Path(t.root, f["path"]).exists()
    head = t.version()
    snap = t.snapshot(head)
    t._commit(head, {"op": "append", "files": snap["files"] + staged,
                     "schema": snap.get("schema")})
    assert {r["k"] for r in t.read().collect()} == {"b", "w"}
    assert not (set(deleted) & {f["path"] for f in staged})
    assert live <= {f["path"] for f in t.snapshot()["files"]}
    # aggressive manual vacuum (grace 0) still reclaims old versions
    t.vacuum(retain_last=1)
    assert {r["k"] for r in t.read().collect()} == {"b", "w"}


def test_empty_table_reads_as_typed_empty_after_full_delete(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS[:1])
    t.delete_where(F.lit(True), partition_cols=("res", "day"))
    out = t.read()
    assert out.count() == 0
    assert set(out.columns) == {"k", "v", "res", "day"}


# ------------------------------------------------- auto-compaction / O(1) head


def test_auto_compact_bounds_files_and_manifests(spark, tmp_path):
    """N small commits into one partition: the threshold trigger merges the
    partition back to one file and prunes manifests beyond the retain
    window — reader cost stays O(1) in commit count."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    schema = "k string, v bigint, res bigint, day string"
    for i in range(12):
        t.append(
            spark.createDataFrame([(f"k{i}", i, 10, "2020-01-01")], schema),
            partition_cols=("res", "day"),
        )
    part_files = [
        f for f in t.snapshot()["files"]
        if f["partition"] == {"res": "10", "day": "2020-01-01"}
    ]
    assert len(part_files) == 12
    # transform: dedupe-free merge (just coalesce files)
    n = t.auto_compact(
        lambda df: df.repartition(1).sortWithinPartitions("k"),
        partition_cols=("res", "day"),
        max_files_per_partition=8,
        vacuum_retain=4,
    )
    assert n == 1
    part_files = [
        f for f in t.snapshot()["files"]
        if f["partition"] == {"res": "10", "day": "2020-01-01"}
    ]
    assert len(part_files) == 1
    # data survives the rewrite
    assert t.read().count() == 12
    # manifests pruned to the retain window
    assert len(t.versions()) <= 4
    # below threshold -> no-op
    assert (
        t.auto_compact(
            lambda df: df, partition_cols=("res", "day"), max_files_per_partition=8
        )
        == 0
    )


def test_head_hint_is_o1_and_self_heals(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    hint = Path(t.root, "_manifests", "_HEAD")
    assert hint.read_text().strip() == "0"
    # stale-behind hint (lost write): version() probes forward
    t.append(
        spark.createDataFrame([("z", 9, 10, "2020-01-09")], "k string, v bigint, res bigint, day string"),
        partition_cols=("res", "day"),
    )
    hint.write_text("0")
    assert t.version() == 1
    # corrupt hint: falls back to listing
    hint.write_text("garbage")
    assert t.version() == 1
    # missing hint: falls back to listing
    hint.unlink()
    assert t.version() == 1


def test_streaming_ingest_auto_compacts(spark, tmp_path):
    """End-to-end: many tiny microbatches through ingest_stream leave a
    bounded per-partition file count and an intact, compacted store."""
    from cassabon_spark.config import RollupConfig
    from cassabon_spark.streaming.ingest import ingest_stream

    cfg = RollupConfig.from_dict(
        {"default": {"method": "sum", "windows": ["10s:1h"]}}
    )
    base = 1_700_000_000 - (1_700_000_000 % 10)
    lines_dir = tmp_path / "lines"
    lines_dir.mkdir()
    out = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    # 20 single-line files -> many commits into the SAME (res, day) partition
    for i in range(20):
        (lines_dir / f"f{i}.txt").write_text(f"m.a 1 {base + i * 10}\n")
        q = ingest_stream(
            spark, cfg, str(lines_dir), out, ck,
            available_now=True, max_files_per_trigger=1,
        )
        q.awaitTermination()
    t = SnapshotTable(spark, out)
    per_part: dict = {}
    for f in t.snapshot()["files"]:
        key = tuple(sorted(f["partition"].items()))
        per_part[key] = per_part.get(key, 0) + 1
    assert max(per_part.values()) <= 17  # default threshold 16, compacts past it
    df = t.read()
    # every ingested point survives compaction: 20 windows, sum 1 each
    assert df.count() == 20
    assert df.agg(F.sum("stat")).first()[0] == 20.0


# ------------------------------------------------------------ MERGE (upsert)


def test_merge_upsert_semantics(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)  # keys a,b across versions
    src = spark.createDataFrame(
        [
            ("a", 100, 10, "2020-01-01"),  # matched -> update
            ("z", 9, 10, "2020-01-01"),    # new -> insert
        ],
        "k string, v bigint, res bigint, day string",
    )
    rep = t.merge(src, keys=["k"], partition_cols=("res", "day"))
    assert rep["updated"] == 1 and rep["inserted"] == 1
    assert rep["replaced_rows"] == 2  # key 'a' had two table rows
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    # both 'a' rows replaced by the single source row; 'b' untouched
    assert got == {("a", 100), ("b", 3), ("b", 4), ("z", 9)}
    # time travel: the pre-merge snapshot is intact
    old = {(r["k"], r["v"]) for r in t.read(version=rep["version"] - 1).collect()}
    assert old == {("a", 1), ("a", 2), ("b", 3), ("b", 4)}


def test_merge_into_empty_table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    src = spark.createDataFrame(
        [("x", 1, 10, "2020-01-01")], "k string, v bigint, res bigint, day string"
    )
    rep = t.merge(src, keys=["k"], partition_cols=("res", "day"))
    assert rep == {
        "updated": 0,
        "inserted": 1,
        "replaced_rows": 0,
        "rewritten_files": 0,
        "version": 0,
    }
    assert t.read().count() == 1


def test_merge_rewrites_only_hit_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    df1 = spark.createDataFrame(
        [("a", 1, 10, "2020-01-01")], "k string, v bigint, res bigint, day string"
    )
    df2 = spark.createDataFrame(
        [("b", 2, 10, "2020-01-02")], "k string, v bigint, res bigint, day string"
    )
    t.append(df1.coalesce(1), partition_cols=("res", "day"))
    t.append(df2.coalesce(1), partition_cols=("res", "day"))
    before = {f["path"] for f in t.snapshot()["files"]}
    src = spark.createDataFrame(
        [("a", 99, 10, "2020-01-01")], "k string, v bigint, res bigint, day string"
    )
    rep = t.merge(src, keys=["k"], partition_cols=("res", "day"))
    assert rep["rewritten_files"] == 1
    after = {f["path"] for f in t.snapshot()["files"]}
    # df2's file survives the merge byte-identical (same manifest entry)
    surviving = before & after
    assert len(surviving) == 1
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {("a", 99), ("b", 2)}


def test_merge_duplicate_source_keys_rejected(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    src = spark.createDataFrame(
        [("a", 1, 10, "2020-01-01"), ("a", 2, 10, "2020-01-01")],
        "k string, v bigint, res bigint, day string",
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge(src, keys=["k"], partition_cols=("res", "day"))


def test_merge_composite_keys(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    # composite (k, res): only the res=10 'b' row updates; res=60 survives
    src = spark.createDataFrame(
        [("b", 77, 10, "2020-01-01")], "k string, v bigint, res bigint, day string"
    )
    rep = t.merge(src, keys=["k", "res"], partition_cols=("res", "day"))
    assert rep["updated"] == 1 and rep["inserted"] == 0
    got = {(r["k"], r["v"], r["res"]) for r in t.read().collect()}
    assert got == {("a", 1, 10), ("a", 2, 10), ("b", 77, 10), ("b", 4, 60)}


def test_merge_commit_race_surfaces_conflict(spark, tmp_path):
    """Two writers merging from the same head: the loser's link-if-absent
    commit raises CommitConflict (copy-on-write rewrites can't silently
    retry — the caller must re-run against the new head)."""
    t = _mk(spark, tmp_path, ROWS)
    racer = SnapshotTable(spark, t.root)
    src = spark.createDataFrame(
        [("a", 100, 10, "2020-01-01")], "k string, v bigint, res bigint, day string"
    )
    # winner commits first
    rep = t.merge(src, keys=["k"], partition_cols=("res", "day"))
    # simulate the loser having planned from the OLD head: replay a commit
    # with the stale parent — the publish must fail, not clobber
    with pytest.raises(CommitConflict):
        racer._commit(rep["version"] - 1, {"op": "merge", "files": [], "schema": None})
    # the winner's snapshot is intact
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert ("a", 100) in got


# ------------------------------------------- merge property test (model-based)

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_op = st.one_of(
    st.tuples(
        st.just("merge"),
        st.lists(
            st.tuples(st.integers(0, 12), st.integers(0, 1000)),
            min_size=1,
            max_size=6,
            unique_by=lambda kv: kv[0],
        ),
    ),
    st.tuples(st.just("delete_ge"), st.integers(0, 1000)),
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_op, min_size=1, max_size=4))
def test_merge_matches_dict_model(spark, tmp_path_factory, ops):
    """Model-based: a random interleaving of merges and deletes must leave
    the snapshot table equal to a plain dict {key: value} applying the
    same operations — upsert-last-wins, delete-by-predicate."""
    t = SnapshotTable(spark, str(tmp_path_factory.mktemp("mprop") / "tbl"))
    model: dict[int, int] = {}
    for op in ops:
        if op[0] == "merge":
            rows = [(k, v) for k, v in op[1]]
            src = spark.createDataFrame(rows, "k bigint, v bigint")
            t.merge(src, keys=["k"])
            model.update(dict(rows))
        else:
            thresh = op[1]
            if t.version() is not None:
                t.delete_where(F.col("v") >= thresh)
            model = {k: v for k, v in model.items() if v < thresh}
    got = (
        {(r["k"], r["v"]) for r in t.read().collect()}
        if t.version() is not None
        else set()
    )
    assert got == set(model.items())


# ---------------------------------------------------------- file stats + skipping


def test_footer_stats_recorded_on_append(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    files = t.snapshot()["files"]
    assert files and all("stats" in f for f in files)
    st = files[0]["stats"]
    assert st["rows"] >= 1
    assert "v" in st["min"] and "v" in st["max"]
    assert st["min"]["v"] <= st["max"]["v"]
    # string column stats present too
    assert "k" in st["min"]


@pytest.mark.slow  # r15 tiering: 64-file stats-skipping build, ~55 s
def test_stats_pruning_skips_files_but_keeps_all_hits(spark, tmp_path):
    """Ten appends of disjoint v-ranges -> ten files; a range predicate
    must cut the file list AND the pruned read must still contain every
    matching row (superset guarantee)."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    for i in range(10):
        df = spark.createDataFrame(
            [(f"k{i}", i * 100 + j) for j in range(100)], "k string, v bigint"
        ).coalesce(1)
        t.append(df)
    allfiles = t.files_for()
    assert len(allfiles) == 10
    pruned = t.files_for(prune=[("v", ">=", 850)])
    assert 0 < len(pruned) < len(allfiles)
    got = sorted(
        r["v"] for r in t.read(prune=[("v", ">=", 850)]).filter("v >= 850").collect()
    )
    assert got == list(range(850, 1000))
    # equality point lookup prunes to a single file
    assert len(t.files_for(prune=[("v", "=", 123)])) == 1


def test_stats_pruning_conservative_without_stats(spark, tmp_path):
    """A predicate on a column with no stats (all-null) must not prune."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(None, 1), (None, 2)], "s string, v bigint"
    ).coalesce(1)
    t.append(df)
    assert len(t.files_for(prune=[("s", "=", "zzz")])) == 1
    # type-mismatched predicate value is likewise ignored
    assert len(t.files_for(prune=[("v", ">=", "not-a-number")])) == 1


def test_stats_survive_delete_rewrite(spark, tmp_path):
    """delete_where restages surviving rows -> rewritten files carry fresh
    stats and pruning still works on the new snapshot."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [("a", i) for i in range(100)], "k string, v bigint"
    ).coalesce(1)
    t.append(df)
    t.delete_where(F.col("v") < 50)
    files = t.snapshot()["files"]
    assert all(f["stats"]["min"]["v"] >= 50 for f in files)
    assert len(t.files_for(prune=[("v", "<", 40)])) == 0


def test_zorder_clustered_write_prunes_on_both_dims(spark, tmp_path):
    """The OPTIMIZE ZORDER story end-to-end in the snapshot format: write
    a grid clustered by the Morton key (repartitionByRange on z -> each
    file owns a z-range), then prune on EITHER dimension alone straight
    from the manifest stats. An unclustered write can't prune either."""
    from cassabon_spark.operators.layout import linear_bucket_expr, zorder_key_expr

    grid = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"), F.floor(F.col("id") / 64).alias("y")
    )
    xb = linear_bucket_expr(F.col("x"), F.lit(0.0), F.lit(63.0), 6)
    yb = linear_bucket_expr(F.col("y"), F.lit(0.0), F.lit(63.0), 6)
    clustered = (
        grid.withColumn("z", zorder_key_expr([xb, yb], 6))
        .repartitionByRange(16, "z")
        .sortWithinPartitions("z")
        .drop("z")
    )
    t = SnapshotTable(spark, str(tmp_path / "ztbl"))
    t.append(clustered)
    n_files = len(t.files_for())
    assert n_files >= 8
    px = t.files_for(prune=[("x", ">=", 56)])
    py = t.files_for(prune=[("y", ">=", 56)])
    assert len(px) <= n_files / 2, (len(px), n_files)
    assert len(py) <= n_files / 2, (len(py), n_files)
    # and the pruned reads stay complete
    assert t.read(prune=[("x", ">=", 56)]).filter("x >= 56").count() == 8 * 64
    assert t.read(prune=[("y", ">=", 56)]).filter("y >= 56").count() == 8 * 64


# ---------------------------------------------------------- evolution + CDC


def test_alter_add_columns_widens_and_backfills_null(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    with pytest.raises(ValueError):
        t.append(
            spark.createDataFrame(
                [("c", 9, 10, "2020-01-03", "x")],
                "k string, v bigint, res bigint, day string, note string",
            )
        )
    t.alter_add_columns("note string")
    with pytest.raises(ValueError):
        t.alter_add_columns("note string")  # duplicate
    t.append(
        spark.createDataFrame(
            [("c", 9, 10, "2020-01-03", "x")],
            "k string, v bigint, res bigint, day string, note string",
        ),
        partition_cols=("res", "day"),
    )
    got = {(r["k"], r["note"]) for r in t.read().select("k", "note").collect()}
    # old rows read as NULL for the new column, new row carries its value
    assert got == {("a", None), ("b", None), ("c", "x")}


def test_read_changes_append_only_cdc(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([("a", 1)], "k string, v bigint"))
    v0 = t.version()
    t.append(spark.createDataFrame([("b", 2)], "k string, v bigint"))
    t.append(spark.createDataFrame([("c", 3)], "k string, v bigint"))
    got = {(r["k"], r["v"]) for r in t.read_changes(v0).collect()}
    assert got == {("b", 2), ("c", 3)}
    # compaction adds no rows to the diff (rewrite of existing data)
    v1 = t.version()
    t.rewrite_partition({}, lambda df: df.coalesce(1))
    assert t.read_changes(v1).count() == 0
    # a delete makes the file-level diff unrepresentable
    v2 = t.version()
    t.delete_where(F.col("k") == "a")
    with pytest.raises(ValueError):
        t.read_changes(v2)
    # but the pre-delete range still answers
    assert t.read_changes(v0, v1).count() == 2


# ---------------------------------------------------------- constraints + as-of


def test_check_constraints_enforced_on_append_and_merge(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v bigint"))
    t.add_constraint("v_positive", "v > 0")
    with pytest.raises(ValueError, match="v_positive"):
        t.append(spark.createDataFrame([("c", -1)], "k string, v bigint"))
    with pytest.raises(ValueError, match="v_positive"):  # NULL is a violation
        t.append(spark.createDataFrame([("c", None)], "k string, v bigint"))
    t.append(spark.createDataFrame([("c", 3)], "k string, v bigint"))
    with pytest.raises(ValueError, match="v_positive"):
        t.merge(spark.createDataFrame([("a", -5)], "k string, v bigint"), keys=["k"])
    # constraints survive unrelated commits (delete carries them forward)
    t.delete_where(F.col("k") == "b")
    with pytest.raises(ValueError, match="v_positive"):
        t.append(spark.createDataFrame([("d", 0)], "k string, v bigint"))
    t.drop_constraint("v_positive")
    t.append(spark.createDataFrame([("d", 0)], "k string, v bigint"))
    assert t.read().count() == 3  # a, c, d


def test_add_constraint_rejects_violating_table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([("a", -1)], "k string, v bigint"))
    with pytest.raises(ValueError, match="violated by 1"):
        t.add_constraint("v_positive", "v > 0")


def test_version_as_of_timestamp_time_travel(spark, tmp_path):
    import time

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([("a", 1)], "k string, v bigint"))
    mid = time.time()
    time.sleep(0.05)
    t.append(spark.createDataFrame([("b", 2)], "k string, v bigint"))
    v = t.version_as_of(mid)
    assert v == 0
    assert t.read(version=v).count() == 1
    assert t.read(version=t.version_as_of(time.time())).count() == 2
    with pytest.raises(ValueError):
        t.version_as_of(mid - 10**6)


def test_concurrent_appends_all_land(spark, tmp_path):
    """Multi-writer appends: N threads race commits; the link-if-absent
    retry loop must land EVERY append with no lost rows and a linear
    version chain (parent = version - 1 all the way down)."""
    import threading

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    errs = []

    def w(i):
        try:
            t.append(
                spark.createDataFrame([(f"w{i}", i)], "k string, v bigint"),
                max_retries=50,
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=w, args=(i,)) for i in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    assert t.version() == 5  # 6 appends -> versions 0..5
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(f"w{i}", i) for i in range(6)}
    for v in range(1, 6):  # linear history
        assert t.snapshot(v)["parent"] == v - 1


def test_optimize_zorder_rewrites_for_multi_column_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER BY as API: an unclustered table (random row order
    -> every file spans ~the full range of both columns, nothing prunes)
    becomes skippable on EITHER column after optimize(); rows unchanged."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    grid = (
        spark.range(0, 4096)
        .select(
            (F.col("id") % 64).alias("x"),
            F.floor(F.col("id") / 64).alias("y"),
            # shuffle the physical order so nothing is accidentally clustered
            F.md5(F.col("id").cast("string")).alias("r"),
        )
        .orderBy("r")
        .drop("r")
        .repartition(8)
    )
    t.append(grid)
    before = t.files_for(prune=[("x", ">=", 56)])
    assert len(before) == len(t.files_for())  # unclustered: no skipping
    v = t.optimize(zorder_by=["x", "y"], n_files=16)
    assert v == 1
    total = len(t.files_for())
    px = t.files_for(prune=[("x", ">=", 56)])
    py = t.files_for(prune=[("y", ">=", 56)])
    assert len(px) <= total / 2 and len(py) <= total / 2
    assert t.read().count() == 4096
    assert t.read(prune=[("y", ">=", 56)]).filter("y >= 56").count() == 8 * 64
    # pre-optimize snapshot still time-travels
    assert t.read(version=0).count() == 4096


def test_append_revalidates_constraints_after_commit_race(spark, tmp_path):
    """ADVICE r3: a constraint committed by a racer between append's
    validation and its commit must be re-validated on the retry — the
    retried append must not carry the new constraint forward onto rows it
    never checked."""
    t = _mk(spark, tmp_path, ROWS)
    t2 = SnapshotTable(spark, t.root)
    orig = t._commit
    state = {"raced": False}

    def racing_commit(parent, payload):
        if not state["raced"]:
            state["raced"] = True
            t2.add_constraint("v_pos", "v > 0")  # racer takes the version
        return orig(parent, payload)

    t._commit = racing_commit
    bad = spark.createDataFrame(
        [("q", -1, 10, "2020-01-05")], "k string, v bigint, res bigint, day string"
    )
    with pytest.raises(ValueError, match="v_pos"):
        t.append(bad, partition_cols=("res", "day"))
    # invariant held: no violating row ever landed
    assert t.read().filter("v <= 0").count() == 0
    # a conforming append passes the (now re-validated) constraint
    ok = spark.createDataFrame(
        [("q", 7, 10, "2020-01-05")], "k string, v bigint, res bigint, day string"
    )
    t.append(ok, partition_cols=("res", "day"))
    assert t.read().filter("k = 'q'").count() == 1


def test_optimize_preserves_partition_layout(spark, tmp_path):
    """ADVICE r3: optimize() on a partitioned table must not silently
    flatten the layout — partition keys are derived from the selected
    entries, so retention predicates keep matching the rewritten files."""
    t = _mk(spark, tmp_path, ROWS)
    v = t.optimize(zorder_by=["v"])
    files = t.snapshot(v)["files"]
    assert files and all(set(f["partition"]) == {"res", "day"} for f in files)
    got = {(r["k"], r["v"], r["res"], r["day"]) for r in t.read().collect()}
    assert got == set(ROWS)
    # partition-keyed maintenance still works on the rewritten files
    _, dropped = t.drop_partitions(lambda p: p["day"] == "2020-01-02")
    assert dropped == [{"day": "2020-01-02", "res": "10"}]
    assert t.read().count() == 3


def test_optimize_rebases_on_append_commit_race(spark, tmp_path):
    """ADVICE r3: optimize holds head across a long rewrite; losing the
    commit race to a concurrent append must rebase (keep the racer's new
    files) and retry, not blow up with a raw conflict."""
    t = _mk(spark, tmp_path, ROWS)
    t2 = SnapshotTable(spark, t.root)
    orig = t._commit
    state = {"raced": False}

    def racing_commit(parent, payload):
        if not state["raced"]:
            state["raced"] = True
            t2.append(
                spark.createDataFrame(
                    [("n", 9, 10, "2020-01-07")],
                    "k string, v bigint, res bigint, day string",
                ),
                partition_cols=("res", "day"),
            )
        return orig(parent, payload)

    t._commit = racing_commit
    t.optimize(zorder_by=["v"])
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(k, v) for (k, v, *_rest) in ROWS} | {("n", 9)}


def test_optimize_conflicts_when_racer_rewrote_selected_files(spark, tmp_path):
    """A racer that REWROTE files optimize selected (here: a delete) must
    surface CommitConflict — committing would resurrect the deleted rows."""
    t = _mk(spark, tmp_path, ROWS)
    t2 = SnapshotTable(spark, t.root)
    orig = t._commit
    state = {"raced": False}

    def racing_commit(parent, payload):
        if not state["raced"]:
            state["raced"] = True
            t2.delete_where(F.col("k") == "a", partition_cols=("res", "day"))
        return orig(parent, payload)

    t._commit = racing_commit
    with pytest.raises(CommitConflict):
        t.optimize(zorder_by=["v"])
    # the delete's outcome is intact: no 'a' rows resurrected
    assert t.read().filter("k = 'a'").count() == 0


# ------------------------------------------------- r5: action-log manifests


def test_commit_manifests_are_action_logs_not_full_lists(spark, tmp_path):
    """r5 (VERDICT r4 weak mark): a commit manifest records only its own
    add/remove actions — its size must not grow with the live file count."""
    t = _mk(spark, tmp_path, ROWS)
    t.append(
        spark.createDataFrame(
            [("c", 5, 10, "2020-01-03")], "k string, v bigint, res bigint, day string"
        ),
        partition_cols=("res", "day"),
    )
    m1 = json.loads((Path(t.root) / "_manifests" / "v000000000001.json").read_text())
    assert "files" not in m1
    assert len(m1["add"]) >= 1 and m1["remove"] == []
    # reconstruction still yields the full table
    assert len(t.snapshot()["files"]) == len(t.snapshot(0)["files"]) + len(m1["add"])


def test_checkpoint_allows_reconstruction_after_ancestor_loss(spark, tmp_path, monkeypatch):
    """A periodic checkpoint is a full-state base: once one exists, the
    commit manifests BELOW it are not needed to reconstruct the head —
    exactly what vacuum relies on when it prunes old versions."""
    monkeypatch.setattr(SnapshotTable, "checkpoint_every", 3)
    t = _mk(spark, tmp_path, ROWS)
    for i in range(5):
        t.append(
            spark.createDataFrame(
                [(f"x{i}", 10 + i, 10, "2020-01-05")],
                "k string, v bigint, res bigint, day string",
            ),
            partition_cols=("res", "day"),
        )
    t._ckpt_flush()  # checkpoint writes are async since r6 — land them
    assert (Path(t.root) / "_manifests" / "c000000000003.json").exists()
    # simulate vacuum's manifest pruning below the checkpoint
    for v in (0, 1, 2):
        (Path(t.root) / "_manifests" / f"v{v:012d}.json").unlink()
    cold = SnapshotTable(spark, t.root)  # fresh memo
    assert cold.read().count() == 4 + 5
    assert {r["k"] for r in cold.read().collect()} >= {f"x{i}" for i in range(5)}


def test_read_changes_uses_action_log_across_mixed_chain(spark, tmp_path):
    """CDC over delta manifests: the 'add' list IS the feed; retention
    (remove-only) contributes nothing; a legacy full manifest mid-chain
    still diffs correctly."""
    t = _mk(spark, tmp_path, ROWS)
    t.append(
        spark.createDataFrame(
            [("n1", 7, 10, "2020-01-06")], "k string, v bigint, res bigint, day string"
        ),
        partition_cols=("res", "day"),
    )  # v1 (delta)
    t.drop_partitions(lambda p: p["day"] == "2020-01-02")  # v2 remove-only
    # legacy-style full manifest commit (old writer still supported)
    snap = t.snapshot()
    staged = t._stage(
        spark.createDataFrame(
            [("n2", 8, 10, "2020-01-06")], "k string, v bigint, res bigint, day string"
        ),
        ("res", "day"),
    )
    t._commit(
        t.version(),
        {"op": "append", "files": snap["files"] + staged, "schema": snap["schema"]},
    )  # v3 (legacy full)
    got = {r["k"] for r in t.read_changes(0).collect()}
    assert got == {"n1", "n2"}
    assert t.read().count() == 3 + 2  # ROWS minus dropped partition, plus n1/n2


def test_vacuum_checkpoints_oldest_retained_before_pruning(spark, tmp_path):
    """vacuum on an action-log chain must leave every retained version
    reconstructible: it force-writes a checkpoint at the oldest retained
    version before deleting ancestor manifests."""
    t = _mk(spark, tmp_path, ROWS)
    for i in range(4):
        t.append(
            spark.createDataFrame(
                [(f"y{i}", 20 + i, 10, "2020-01-07")],
                "k string, v bigint, res bigint, day string",
            ),
            partition_cols=("res", "day"),
        )
    t.vacuum(retain_last=2)
    assert t.versions() == [3, 4]
    cold = SnapshotTable(spark, t.root)
    assert cold.read(version=3).count() == 4 + 3
    assert cold.read().count() == 4 + 4


# ------------------------------------------------- r6: ADVICE r5 fixes


def test_optimize_retry_preserves_racer_constraints(spark, tmp_path):
    """ADVICE r5 (medium): a commit-conflict retry must re-read the
    constraint set from the NEW parent. _commit used to fill the default
    into the CALLER'S payload dict, so optimize's retry carried the stale
    set captured from the original parent and silently reverted a racing
    add_constraint."""
    t = _mk(spark, tmp_path, ROWS)
    t2 = SnapshotTable(spark, t.root)
    orig = t._commit
    state = {"raced": False}

    def racing_commit(parent, payload):
        if not state["raced"]:
            state["raced"] = True
            t2.add_constraint("v_positive", "v > 0")
        return orig(parent, payload)

    t._commit = racing_commit
    t.optimize(zorder_by=["v"])
    assert t.snapshot().get("constraints") == {"v_positive": "v > 0"}
    # and the constraint is live: a violating append is rejected
    with pytest.raises(ValueError, match="v_positive"):
        t.append(
            spark.createDataFrame(
                [("z", -1, 10, "2020-01-09")],
                "k string, v bigint, res bigint, day string",
            ),
            partition_cols=("res", "day"),
        )


def test_commit_does_not_mutate_caller_payload(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    t.add_constraint("v_positive", "v > 0")
    payload = {"op": "retention", "add": [], "remove": []}
    t._commit(t.version(), payload)
    assert payload == {"op": "retention", "add": [], "remove": []}
    # the default was still applied to the WRITTEN manifest
    assert t.snapshot().get("constraints") == {"v_positive": "v > 0"}


def test_vacuum_keeps_ancestors_when_checkpoint_write_fails(spark, tmp_path, monkeypatch):
    """ADVICE r5 (medium): vacuum force-checkpoints the oldest retained
    version before unlinking ancestor manifests. If that write silently
    fails (disk full — _write_checkpoint is best-effort by design), the
    ancestors must SURVIVE or every retained snapshot becomes permanently
    unreconstructible."""
    t = _mk(spark, tmp_path, ROWS)
    for i in range(3):
        t.append(
            spark.createDataFrame(
                [("c", 5 + i, 10, "2020-01-03")],
                "k string, v bigint, res bigint, day string",
            ),
            partition_cols=("res", "day"),
        )
    head = t.version()
    assert head > 0 and not t._ckpt_path(head).exists()

    monkeypatch.setattr(
        SnapshotTable, "_write_checkpoint", lambda self, v, files: None
    )
    t.vacuum(retain_last=1)
    # ancestor manifests survived; the head snapshot still reconstructs
    assert t._manifest_path(0).exists()
    assert t.read().count() == 7

    monkeypatch.undo()
    fresh = SnapshotTable(spark, t.root)
    fresh.vacuum(retain_last=1)
    # now the checkpoint landed and the ancestors are pruned
    assert fresh._ckpt_path(head).exists()
    assert not fresh._manifest_path(0).exists()
    assert fresh.read().count() == 7


# ---------------------------------------------------- r6: RESTORE


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """Delta-parity RESTORE: roll back to an old version as a NEW commit;
    history (time travel) is preserved, readers switch atomically, and
    the restore replays as a reset in the action log."""
    t = _mk(spark, tmp_path, ROWS)
    t.delete_where(F.col("k") == "a", partition_cols=("res", "day"))  # v1
    t.append(
        spark.createDataFrame(
            [("c", 5, 10, "2020-01-03")], "k string, v bigint, res bigint, day string"
        ),
        partition_cols=("res", "day"),
    )  # v2
    assert t.read().count() == 3
    v = t.restore(0)
    assert v == 3
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(k, v_) for (k, v_, *_r) in ROWS}
    # history intact: the bad versions still time-travel
    assert t.read(version=2).count() == 3
    assert t.read(version=1).count() == 2
    # a cold reader reconstructs through the reset manifest
    cold = SnapshotTable(spark, t.root)
    assert cold.read().count() == 4
    # CDC over a range containing the restore must refuse (the restore
    # resurrects rows an append-diff cannot represent)
    with pytest.raises(ValueError, match="restore"):
        t.read_changes(2)


def test_restore_refuses_vacuumed_version(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    t.delete_where(F.col("k") == "a", partition_cols=("res", "day"))  # v1 rewrite
    t.vacuum(retain_last=1)  # reclaims v0-only files
    with pytest.raises((FileNotFoundError, OSError)):
        t.restore(0)


def test_restore_reinstates_schema_and_constraints(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    t.add_constraint("v_positive", "v > 0")  # v1
    t.drop_constraint("v_positive")  # v2
    t.restore(1)
    assert t.snapshot().get("constraints") == {"v_positive": "v > 0"}


# ---------------------------------------------------- r6: shallow CLONE


def test_clone_is_zero_copy_and_isolated(spark, tmp_path):
    """Shallow clone: one manifest write, no data copied; clone and source
    then evolve independently (copy-on-write keeps the source's files
    untouched by the clone's rewrites)."""
    src = _mk(spark, tmp_path, ROWS)
    n_files_before = len(list(Path(src.root).rglob("*.parquet")))
    clone = src.clone_to(str(tmp_path / "clone"))
    # zero copy: no new data files anywhere
    assert len(list(Path(src.root).rglob("*.parquet"))) == n_files_before
    assert list(Path(clone.root).rglob("*.parquet")) == []
    assert {(r["k"], r["v"]) for r in clone.read().collect()} == {
        (k, v) for (k, v, *_r) in ROWS
    }
    # clone-side append lands under the CLONE's root only
    clone.append(
        spark.createDataFrame(
            [("c", 5, 10, "2020-01-03")], "k string, v bigint, res bigint, day string"
        ),
        partition_cols=("res", "day"),
    )
    assert clone.read().count() == 5
    assert src.read().count() == 4
    assert len(list(Path(src.root).rglob("*.parquet"))) == n_files_before
    # clone-side delete rewrites adopted entries copy-on-write: the source
    # file survives on disk and in the source manifest
    clone.delete_where(F.col("k") == "a", partition_cols=("res", "day"))
    assert {r["k"] for r in clone.read().collect()} == {"b", "c"}
    assert src.read().filter("k = 'a'").count() == 2
    # clone vacuum walks only its own root: source files safe
    clone.vacuum(retain_last=1)
    assert src.read().count() == 4


def test_clone_into_nonempty_target_rejected(spark, tmp_path):
    src = _mk(spark, tmp_path, ROWS)
    other = _mk(spark, tmp_path / "other", ROWS)
    with pytest.raises(ValueError, match="already has commits"):
        src.clone_to(other.root)


def test_clone_carries_schema_and_constraints(spark, tmp_path):
    src = _mk(spark, tmp_path, ROWS)
    src.add_constraint("v_positive", "v > 0")
    clone = src.clone_to(str(tmp_path / "clone2"))
    assert clone.snapshot().get("constraints") == {"v_positive": "v > 0"}
    with pytest.raises(ValueError, match="v_positive"):
        clone.append(
            spark.createDataFrame(
                [("z", -1, 10, "2020-01-09")],
                "k string, v bigint, res bigint, day string",
            ),
            partition_cols=("res", "day"),
        )


def test_history_lists_commits_newest_first(spark, tmp_path):
    t = _mk(spark, tmp_path, ROWS)
    t.append(
        spark.createDataFrame(
            [("c", 5, 10, "2020-01-03")], "k string, v bigint, res bigint, day string"
        ),
        partition_cols=("res", "day"),
    )
    t.drop_partitions(lambda p: p["day"] == "2020-01-02")
    t.restore(0)
    h = t.history()
    assert [e["version"] for e in h] == [3, 2, 1, 0]
    assert [e["op"] for e in h] == ["restore", "retention", "append", "append"]
    assert h[0]["n_remove"] is None  # reset commit: removal set implicit
    assert h[2]["n_add"] == 1 and h[2]["n_remove"] == 0
    assert all(e["committed_at"] is not None for e in h)
