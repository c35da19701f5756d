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

The index table is tiny relative to the data (distinct paths), so it lives
on the driver like the reference's in-memory leaf set
(indexmanager.go:142-184, metricmanager.go:82-87): a glob is a regex over
one depth bucket (search_glob is the same match in Spark), and ingest
appends only a batch's first sightings (update_index_incremental).
"""

from __future__ import annotations

import os
import re
import uuid
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
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


def glob_to_regex(glob: str) -> str:
    """Metric glob -> anchored regex.

    Reference parity: '.'->'\\.', '*'->'.*' (indexmanager.go:313-314; '.*'
    crossing segment boundaries is harmless because search is always
    depth-scoped). Extension beyond the reference, matching the glob
    surface graphite-web finders accept: '?' (one char), '{a,b}'
    (alternation), '[0-9]' (char class, passed through). Everything else is
    regex-escaped. The result means the same to Python's re and to Java's
    rlike."""
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
                out.append(re.escape(c))
            else:
                alts = glob[i + 1 : end].split(",")
                out.append("(" + "|".join(re.escape(a) for a in alts) + ")")
                i = end
        elif c == "[":
            end = glob.find("]", i)
            if end < 0:
                out.append(re.escape(c))
            else:
                out.append(glob[i : end + 1])
                i = end
        else:
            out.append(re.escape(c))
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
    per (path, depth, tenant), `leaf` maps each path to max(leaf) over its
    rows. Never mutated after it is built, so threads can share it without
    a lock."""

    listing: tuple
    by_depth: dict
    leaf: dict

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


INDEX_SCHEMA = pa.schema(
    [("path", pa.string()), ("depth", pa.int32()), ("tenant", pa.string()), ("leaf", pa.bool_())]
)

#: index directory -> the latest driver copy this process read or wrote.
#: Process-wide because a streaming batch has no owner object to keep it
#: on, and so the ingest writers and the Engine readers share one copy;
#: every use checks it against the directory's current listing.
_COPIES: dict[str, PathIndex] = {}


def load_index(index_dir: str) -> PathIndex:
    """Read the index directory onto the driver with pyarrow (no Spark job).
    The copy is kept per directory while its parquet listing is unchanged.
    Rows of the same (path, depth, tenant) merge with max(leaf): a path
    first indexed as a prefix and later ingested as a metric has both rows
    stored."""
    listing = _parquet_listing(index_dir)
    cached = _COPIES.get(index_dir)
    if cached is not None and cached.listing == listing:
        return cached
    merged: dict[tuple, bool] = {}
    for name, _, _ in listing:
        t = pq.read_table(
            os.path.join(index_dir, name), columns=["path", "depth", "tenant", "leaf"]
        ).to_pydict()
        for p, d, tn, lf in zip(t["path"], t["depth"], t["tenant"], t["leaf"]):
            merged[(p, d, tn)] = merged.get((p, d, tn), False) or bool(lf)
    by_depth: dict[int, list] = {}
    leaf: dict[str, bool] = {}
    for (p, d, t), lf in sorted(merged.items()):
        by_depth.setdefault(d, []).append((p, d, t, lf))
        leaf[p] = leaf.get(p, False) or lf
    # one reference swap: readers never see a half-built copy
    _COPIES[index_dir] = idx = PathIndex(listing, {d: tuple(r) for d, r in by_depth.items()}, leaf)
    return idx


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


def new_index_rows(paths, stored_leaf: dict) -> list[tuple[str, int, str, bool]]:
    """Index rows `paths` add to an index whose paths map to `stored_leaf`:
    expand_ancestors of the paths not stored as a leaf, less the rows
    stored already. A metric a.b after a.b.c adds a leaf row next to the
    stored prefix row."""
    rows: dict[str, bool] = {}
    for raw in paths:
        parts = raw.rstrip("%").split(".")
        if stored_leaf.get(raw) or parts == [""]:
            continue
        for d in range(1, len(parts) + 1):
            p = ".".join(parts[:d])
            rows[p] = rows.get(p, False) or d == len(parts)
    return sorted(
        (p, p.count(".") + 1, "", lf)
        for p, lf in rows.items()
        if p not in stored_leaf or (lf and not stored_leaf[p])
    )


def publish_part(index_dir: str, table: pa.Table) -> tuple:
    """Append `table` to `index_dir` as one parquet part, written under a
    dot name (Spark and _parquet_listing skip it) and renamed into place.
    Returns the part's listing entry."""
    os.makedirs(index_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    final = os.path.join(index_dir, name)
    pq.write_table(table, os.path.join(index_dir, f".{name}"))
    os.rename(os.path.join(index_dir, f".{name}"), final)
    st = os.stat(final)
    return (name, st.st_size, st.st_mtime_ns)


def update_index_incremental(index_dir: str, paths) -> None:
    """A18 incremental maintenance, on the driver like the reference's
    new-path lookup (metricstore.go:67-74 -> indexmanager.go:225-278): the
    new rows as one parquet part, none if there are none. The driver copy
    is extended, not re-read; another writer's part breaks its listing."""
    idx = load_index(index_dir)
    rows = new_index_rows(paths, idx.leaf)
    if not rows:
        return
    entry = publish_part(index_dir, pa.table(list(zip(*rows)), schema=INDEX_SCHEMA))
    by_depth = dict(idx.by_depth)
    for d in {r[1] for r in rows}:
        new = [r for r in rows if r[1] == d]
        seen = {r[0] for r in new}
        by_depth[d] = tuple(sorted([r for r in by_depth.get(d, ()) if r[0] not in seen] + new))
    leaf = {**idx.leaf, **{r[0]: r[3] for r in rows}}
    _COPIES[index_dir] = PathIndex(tuple(sorted((*idx.listing, entry))), by_depth, leaf)


def update_indexes(spark, paths, index_dir: str, tag_index_dir: str) -> None:
    """New paths among `paths` into both indexes: dot paths into the path
    index, tagged series (`;tag=v`) into the tag index, never the dot tree
    (operators/tags.py)."""
    from cassabon_spark.operators.tags import update_tag_index_incremental

    paths = set(paths)
    tagged = {p for p in paths if ";" in p}
    update_index_incremental(index_dir, paths - tagged)
    update_tag_index_incremental(spark, tagged, tag_index_dir)


def index_hook(spark, table, index_dir: str, tag_index_dir: str):
    """SnapshotTable.append's `before_commit` for both ingest writers: the
    paths of the staged store files, read with pyarrow, into both indexes."""

    def hook(entries: list[dict]) -> None:
        paths: set[str] = set()
        for batch in table.scan_arrow(entries, ["path"]):
            paths.update(pc.unique(batch.column(0)).to_pylist())
        update_indexes(spark, paths, index_dir, tag_index_dir)

    return hook
