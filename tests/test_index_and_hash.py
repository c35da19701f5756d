"""Path index (A17/A18/A20) + Pearson hash goldens (pearson_test.go)."""

from __future__ import annotations

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from cassabon_spark.config import RollupConfig
from cassabon_spark.engine import Engine
from cassabon_spark.functions.pearson import pearson_hash8, pearson_hash64, peer_index
from cassabon_spark.operators import index
from cassabon_spark.operators.index import (
    _parquet_listing,
    delete_paths,
    expand_ancestors,
    glob_to_regex,
    load_index,
    search_glob,
    update_index_incremental,
)

_CFG = RollupConfig.from_dict({"default": {"method": "average", "windows": ["10s:1h"]}})


def test_pearson_reference_goldens():
    # exact golden values from pearson/pearson_test.go:6-48
    assert pearson_hash8("") == 0
    assert pearson_hash8("sample string to be hashed") == 47
    assert pearson_hash8("another sample string to be hashed") == 206
    assert pearson_hash64("") == (0,) * 8
    assert pearson_hash64("sample string to be hashed") == (47, 40, 41, 42, 43, 36, 37, 38)
    assert pearson_hash64("another sample string to be hashed") == (
        206, 205, 204, 203, 202, 201, 200, 199,
    )


def test_peer_index_mod():
    assert peer_index("sample string to be hashed", 4) == 47 % 4


def test_pearson_expr_matches_python_reference(spark):
    # r14: carbon_pearson_shards switched from the pandas UDF to the
    # pure-Catalyst byte fold — pin the expression form bit-for-bit
    # against the Python reference, including multi-byte UTF-8 (the fold
    # is per BYTE, not per character) and the empty-string golden.
    from cassabon_spark.functions.pearson import pearson_hash8_expr

    samples = [
        "",
        "sample string to be hashed",
        "another sample string to be hashed",
        "evt.login.u3",
        "a",
        "naïve.path.ü",  # multi-byte UTF-8
        "日本語",
        "x" * 300,
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", pearson_hash8_expr("s").alias("h")).collect()
    }
    for s in samples:
        assert got[s] == pearson_hash8(s), s


def test_ancestor_expansion(spark):
    paths = spark.createDataFrame([("a.b.c",), ("a.b.d%",), ("x",)], "path string")
    idx = {(r["path"], r["depth"], r["leaf"]) for r in expand_ancestors(paths).collect()}
    assert idx == {
        ("a.b.c", 3, True),
        ("a.b.d", 3, True),  # trailing % stripped (indexmanager.go:233-236)
        ("a.b", 2, False),
        ("a", 1, False),
        ("x", 1, True),
    }


def test_prefix_that_is_also_leaf_stays_leaf(spark):
    paths = spark.createDataFrame([("a.b",), ("a.b.c",)], "path string")
    idx = {r["path"]: r["leaf"] for r in expand_ancestors(paths).collect()}
    assert idx["a.b"] is True  # both a metric and a prefix
    assert idx["a.b.c"] is True
    assert idx["a"] is False


def test_glob_translation():
    assert glob_to_regex("foo.*.baz") == r"^foo\..*\.baz$"
    assert glob_to_regex("*") == "^.*$"
    # graphite-web glob extensions beyond the reference's '*'
    assert glob_to_regex("foo.srv?.cpu") == r"^foo\.srv.\.cpu$"
    assert glob_to_regex("foo.{web,api}.err") == r"^foo\.(web|api)\.err$"
    assert glob_to_regex("foo.srv[0-9].cpu") == r"^foo\.srv[0-9]\.cpu$"
    # unbalanced braces degrade to literals, never to broken regex
    assert glob_to_regex("foo.{web") == r"^foo\.\{web$"


def test_glob_search_extensions(spark):
    from cassabon_spark.operators.index import expand_ancestors

    paths = spark.createDataFrame(
        [("a.web.err",), ("a.api.err",), ("a.db.err",), ("a.srv1.cpu",), ("a.srv2.cpu",)],
        "path string",
    )
    idx = expand_ancestors(paths)
    got = [r["path"] for r in search_glob(idx, "a.{web,api}.err").collect()]
    assert got == ["a.api.err", "a.web.err"]
    got = [r["path"] for r in search_glob(idx, "a.srv?.cpu").collect()]
    assert got == ["a.srv1.cpu", "a.srv2.cpu"]
    got = [r["path"] for r in search_glob(idx, "a.srv[12].cpu").collect()]
    assert got == ["a.srv1.cpu", "a.srv2.cpu"]


def test_glob_search_depth_and_order(spark):
    paths = spark.createDataFrame(
        [("foo.b.baz",), ("foo.a.baz",), ("foo.baz",), ("foo.a.baz.deep",)], "path string"
    )
    idx = expand_ancestors(paths)
    got = [r["path"] for r in search_glob(idx, "foo.*.baz").collect()]
    assert got == ["foo.a.baz", "foo.b.baz"]  # depth-matched, sorted asc


def test_delete_paths_depth_scoped(spark):
    paths = spark.createDataFrame([("foo.a",), ("foo.a.b",)], "path string")
    idx = expand_ancestors(paths)
    kept = {r["path"] for r in delete_paths(idx, "foo.*").collect()}
    # only depth-2 matches removed; deeper and shallower survive
    assert kept == {"foo", "foo.a.b"}


_PARITY_PATHS = ["a.web.err", "a.api.err", "a.1", "a.2", "a+b.c", "web.x", "api.y", "1.z", "b"]


@pytest.fixture(scope="module")
def parity_engine(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("parity")
    update_index_incremental(str(d / "idx"), _PARITY_PATHS)
    return Engine(spark, _CFG, str(d / "store"), str(d / "idx"))


@pytest.mark.parametrize(
    "glob", ["*", "a.*", "?", "{web,api}", "[12]", "a.[12]", "a+b.c", "nomatch.*"]
)
def test_driver_glob_matches_spark_rlike(spark, parity_engine, glob):
    """Engine.get_paths (Python re over the driver-side copy) returns exactly
    the rows, in order, of search_glob (Java rlike + orderBy)."""
    want = [r.asDict() for r in search_glob(parity_engine.index, glob).collect()]
    assert parity_engine.get_paths(glob) == want
    if glob == "nomatch.*":
        assert want == []
    if glob == "a+b.c":
        assert [r["path"] for r in want] == ["a+b.c"]  # '+' is literal


def test_driver_index_sees_appends_and_deletes(spark, tmp_path):
    eng = Engine(spark, _CFG, str(tmp_path / "store"), str(tmp_path / "idx"))
    assert eng.get_paths("x.*") == []
    for p in ("x.a", "x.b"):
        update_index_incremental(eng.index_dir, [p])
        # each append is visible on the very next lookup
        assert [r["path"] for r in eng.get_paths("x.*")][-1] == p
    assert eng.delete_paths("x.a") == 1
    assert [r["path"] for r in eng.get_paths("x.*")] == ["x.b"]


def _spark_index_rows(spark, paths, stored):
    """The Spark maintenance the driver expansion replaced: expand_ancestors
    of the batch paths not stored as a leaf, anti-joined against the stored
    rows (a stored leaf, or any stored row when the new row is a prefix)."""
    batch = spark.createDataFrame([(p,) for p in paths], "path string").distinct()
    if not stored:
        rows = expand_ancestors(batch)
    else:
        existing = spark.createDataFrame(
            stored, "path string, depth int, tenant string, leaf boolean"
        )
        batch = batch.join(existing.filter("leaf").select("path"), "path", "left_anti")
        st = existing.select(F.col("path").alias("_p"), F.col("leaf").alias("_leaf"))
        rows = expand_ancestors(batch).join(
            st, (F.col("path") == F.col("_p")) & (F.col("_leaf") | ~F.col("leaf")), "left_anti"
        )
    return sorted((r["path"], r["depth"], r["leaf"]) for r in rows.collect())


@pytest.mark.parametrize(
    "batches",
    [
        [["a.b%", "a.c%%", "x%", "%"]],
        [["a.b.c"], ["a.b"]],  # prefix, then the prefix as a metric
        [["a.b"], ["a.b.c"]],  # a metric, then a path under it
        [["a+b.c", "ä.ö.ü", "日本.語", "a..b"]],
        [["solo"], ["solo", "other"]],
        [["a.b", "a.c", "a.b.d"], ["a.b", "a.c", "a.b.d"]],  # a repeated batch
    ],
)
def test_driver_expansion_matches_spark_anti_join(spark, tmp_path, batches):
    """update_index_incremental appends, batch by batch, exactly the rows
    the Spark anti-join maintenance appended; the driver copy is then the
    max(leaf) merge of them."""
    d = str(tmp_path / "idx")
    stored: list[tuple] = []
    for paths in batches:
        want = _spark_index_rows(spark, paths, stored)
        before = set(_parquet_listing(d))
        update_index_incremental(d, paths)
        added = [e[0] for e in _parquet_listing(d) if e not in before]
        got = sorted(
            (r["path"], r["depth"], r["leaf"])
            for name in added
            for r in pq.read_table(f"{d}/{name}").to_pylist()
        )
        assert got == want
        assert len(added) == (1 if want else 0)
        stored += [(p, dp, "", lf) for p, dp, lf in want]
    merged: dict = {}
    for p, dp, _, lf in stored:
        merged[(p, dp)] = merged.get((p, dp), False) or lf
    copy = load_index(d)
    assert sorted((p, dp, lf) for rows in copy.by_depth.values() for p, dp, _, lf in rows) == sorted(
        (p, dp, lf) for (p, dp), lf in merged.items()
    )
    # the copy the writer extended equals a fresh read of the directory
    index._COPIES.pop(d)
    assert load_index(d) == copy
