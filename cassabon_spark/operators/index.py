"""Hierarchical path index: ancestor expansion + glob search (A17/A18/A20).

Replaces the reference's Elasticsearch index (datastore/indexmanager.go) with
a small DataFrame/table of (path, depth, tenant, leaf):
  - ancestor expansion: a.b.c -> a.b.c(leaf), a.b, a
    (indexmanager.go:225-278; trailing '%' stripped at 233-236)
  - glob -> regex: '.'->'\\.', '*'->'.*', match where depth == segments(query)
    (indexmanager.go:303-347)
  - results sorted path asc (indexmanager.go:325-331)
  - DELETE /paths is routed but unimplemented in the reference
    (indexmanager.go:294-296) — implemented here.

Spark-first: expansion is posexplode over split — no Python row loop. The
index table is tiny relative to the data (distinct paths), so the serving
side reads it onto the driver (load_index) and answers a glob with a regex
over one depth bucket, like the reference's in-memory leaf set
(indexmanager.go:142-184, metricmanager.go:82-87); search_glob is the same
match as a Spark filter.
"""

from __future__ import annotations

import os
import re
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def expand_ancestors(paths_df: DataFrame, path_col: str = "path") -> DataFrame:
    """paths(path) -> index(path, depth, tenant, leaf), one row per prefix.

    FIXTURES.md §1.5: from a.b.c expect (a.b.c,3,'',true), (a.b,2,'',false),
    (a,1,'',false). Trailing '%' on the input path is stripped first.
    """
    cleaned = paths_df.select(
        F.regexp_replace(F.col(path_col), r"%+$", "").alias("full_path")
    ).filter(F.length("full_path") > 0)
    parts = F.split("full_path", r"\.")
    return (
        cleaned.withColumn("_parts", parts)
        .withColumn("_n", F.size("_parts"))
        .select(
            "full_path",
            "_parts",
            "_n",
            F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("depth"),
        )
        .select(
            F.array_join(F.slice("_parts", 1, F.col("depth")), ".").alias("path"),
            F.col("depth").cast("int").alias("depth"),
            F.lit("").alias("tenant"),
            (F.col("depth") == F.col("_n")).alias("leaf"),
        )
        .groupBy("path", "depth", "tenant")
        .agg(F.max("leaf").alias("leaf"))  # a prefix that is also a metric stays leaf
    )


def build_index(metrics: DataFrame, path_col: str = "path") -> DataFrame:
    """Distinct metric paths -> expanded index table (A18).

    In the streaming pipeline this runs inside foreachBatch as an anti-join
    against the existing index (only new paths expand), mirroring the
    reference's new-path detection (datastore/metricstore.go:67-74).
    """
    return expand_ancestors(metrics.select(path_col).distinct(), path_col)


def glob_to_regex(glob: str) -> str:
    """Metric glob -> anchored regex.

    Reference parity: '.'->'\\.', '*'->'.*' (indexmanager.go:313-314; '.*'
    crossing segment boundaries is harmless because search is always
    depth-scoped). Extension beyond the reference, matching the glob
    surface graphite-web finders accept: '?' (one char), '{a,b}'
    (alternation), '[0-9]' (char class, passed through). Everything else is
    regex-escaped. The result means the same to Python's re and to Java's
    rlike."""
    import re as _re

    out, i, n = [], 0, len(glob)
    while i < n:
        c = glob[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "{":
            end = glob.find("}", i)
            if end < 0:
                out.append(_re.escape(c))
            else:
                alts = glob[i + 1 : end].split(",")
                out.append("(" + "|".join(_re.escape(a) for a in alts) + ")")
                i = end
        elif c == "[":
            end = glob.find("]", i)
            if end < 0:
                out.append(_re.escape(c))
            else:
                out.append(glob[i : end + 1])
                i = end
        else:
            out.append(_re.escape(c))
        i += 1
    return "^" + "".join(out) + "$"


def glob_depth(glob: str) -> int:
    return len(glob.split("."))


def search_glob(index: DataFrame, glob: str) -> DataFrame:
    """A17: depth-matched regex search, sorted by path asc."""
    return (
        index.filter(F.col("depth") == glob_depth(glob))
        .filter(F.col("path").rlike(glob_to_regex(glob)))
        .orderBy("path")
    )


class PathIndex(NamedTuple):
    """Driver-side copy of one index directory: `listing` is the
    (name, size, mtime_ns) of every parquet part it was read from, `by_depth`
    maps depth -> (path, depth, tenant, leaf) rows sorted by path, one row
    per (path, depth, tenant). Never mutated after load_index builds it, so
    threads can share it without a lock."""

    listing: tuple
    by_depth: dict

    def glob(self, glob: str) -> list[dict]:
        """A17 on the driver: depth-matched regex search, sorted by path
        asc — the rows and order search_glob(...).collect() returns."""
        rx = re.compile(glob_to_regex(glob))
        return [
            {"path": p, "depth": d, "tenant": t, "leaf": leaf}
            for p, d, t, leaf in self.by_depth.get(glob_depth(glob), ())
            if rx.search(p)
        ]


def _parquet_listing(index_dir: str) -> tuple:
    try:
        entries = list(os.scandir(index_dir))
    except FileNotFoundError:
        return ()
    out = []
    for e in entries:
        # Spark's own rule: '_' and '.' files (_SUCCESS, .crc) are not data
        if e.name.endswith(".parquet") and not e.name.startswith(("_", ".")):
            st = e.stat()
            out.append((e.name, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def load_index(index_dir: str, cached: PathIndex | None = None) -> PathIndex:
    """Read the index directory onto the driver with pyarrow (no Spark job).
    Returns `cached` unchanged while the directory's parquet listing is the
    one it was read from; any append (update_index_incremental), rewrite
    (Engine.delete_paths renames a new directory into place) or writer in
    another process changes the listing and forces a re-read. Rows of the
    same (path, depth, tenant) merge with max(leaf): a path first indexed as
    a prefix and later ingested as a metric has both rows stored."""
    import pyarrow.parquet as pq

    listing = _parquet_listing(index_dir)
    if cached is not None and cached.listing == listing:
        return cached
    leaf: dict[tuple, bool] = {}
    for name, _, _ in listing:
        t = pq.read_table(
            os.path.join(index_dir, name), columns=["path", "depth", "tenant", "leaf"]
        ).to_pydict()
        for p, d, tn, lf in zip(t["path"], t["depth"], t["tenant"], t["leaf"]):
            leaf[(p, d, tn)] = leaf.get((p, d, tn), False) or bool(lf)
    by_depth: dict[int, list] = {}
    for (p, d, t), lf in sorted(leaf.items()):
        by_depth.setdefault(d, []).append((p, d, t, lf))
    return PathIndex(listing, {d: tuple(rows) for d, rows in by_depth.items()})


def merge_index_rows(index: DataFrame) -> DataFrame:
    """One row per (path, depth, tenant), leaf = max(leaf): the Spark side
    of load_index's merge."""
    return index.groupBy("path", "depth", "tenant").agg(F.max("leaf").alias("leaf"))


def delete_paths(index: DataFrame, glob: str) -> DataFrame:
    """A20 (unimplemented in the reference — we implement it): remove every
    index row matching the glob at its depth; returns the surviving index."""
    cond = (F.col("depth") == glob_depth(glob)) & F.col("path").rlike(glob_to_regex(glob))
    return index.filter(~cond)


def route_pure(paths: list[str], patterns: list[str]) -> list[str]:
    """Driver-side first-match-wins routing for small path lists (A5), used by
    query planning; the distributed version is RollupConfig.routing_when_chain."""
    compiled = [(p, re.compile(p)) for p in patterns if p != "default"]
    out = []
    for path in paths:
        hit = "default"
        for src, pat in compiled:
            if pat.search(path):
                hit = src
                break
        out.append(hit)
    return out


def update_index_incremental(spark, metrics: DataFrame, index_dir: str) -> None:
    """A18 incremental maintenance: expand ancestors of NEW paths only
    (anti-join against the stored index) and append. Mirrors the reference's
    new-path detection during ingest (datastore/metricstore.go:67-74 ->
    indexmanager.go:225-278) with one durable parquet table instead of ES.
    Used by both the Engine facade and the streaming foreachBatch writer.

    A metric whose path is already stored as a non-leaf prefix (a.b after
    a.b.c) appends a leaf row next to the stored one; readers merge the two
    with max(leaf) (load_index, merge_index_rows).
    """
    paths = metrics.select("path").distinct()
    has_index = os.path.isdir(index_dir) and any(os.scandir(index_dir))
    if has_index:
        existing = spark.read.parquet(index_dir)
        paths = paths.join(existing.filter(F.col("leaf")).select("path"), "path", "left_anti")
        if paths.isEmpty():
            # no first sightings: appending would add an empty parquet part
            # that every later index scan lists and opens
            return
        stored = existing.select(F.col("path").alias("_p"), F.col("leaf").alias("_leaf"))
        new_rows = expand_ancestors(paths).join(
            stored,
            (F.col("path") == F.col("_p")) & (F.col("_leaf") | ~F.col("leaf")),
            "left_anti",
        )
    else:
        new_rows = expand_ancestors(paths)
    new_rows.write.mode("append").parquet(index_dir)


def update_indexes(spark, metrics: DataFrame, index_dir: str, tag_index_dir: str) -> None:
    """New paths of `metrics` into both indexes: dot paths into the path
    index, tagged series (`;tag=v`) into the tag index, never the dot tree
    (operators/tags.py). Shared by Engine.ingest_lines and the streaming
    foreachBatch writer."""
    from cassabon_spark.operators.tags import (
        is_tagged_expr,
        update_tag_index_incremental,
    )

    paths = metrics.select("path").distinct()
    update_index_incremental(spark, paths.filter(~is_tagged_expr("path")), index_dir)
    tagged = paths.filter(is_tagged_expr("path"))
    if not tagged.isEmpty():
        update_tag_index_incremental(spark, tagged, tag_index_dir)
