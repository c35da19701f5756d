"""The metrics read path: tier select -> scan -> normalize -> merge ->
gap-fill -> NaN scrub -> MetricResponse (operators A10-A16, SURVEY §2).

Reference lifecycle (datastore/metricquery.go:86-229):
  A10 tier selection     metricquery.go:102-121
  A11 time-range scan    metricquery.go:127-138
  A12 from-normalization metricquery.go:124   (ALWAYS advances a full step
                                               when from % step == 0)
  A13 gap-fill grid      metricquery.go:141-161, 212-220
  A14 read-time merge    metricquery.go:163-210 (off-grid rows merge into the
                                                 NEXT boundary slot, by method)
  A15 NaN -> null        metricquery.go:179-183
  A16 multi-path fan-in  metricquery.go:106-225

Fetch shape: every engine read goes through one `Fetch` (tier selection
over the broadcast rollup config, maxDataPoints coarsening, the cells cap)
and one `StoreRead` (the manifest's file list at ONE pinned snapshot
version, cut by partition range and footer stats, counted in the engine's
prune_stats). A StoreRead is answered on the driver (`arrow_grid`): pyarrow
scans the kept files batch by batch and numpy folds each batch into the
grid (merge, NaN scrub, spine), so a read runs no Spark job — the way the
reference answers from one Cassandra partition per path — and holds one
batch plus the cells-capped grid in memory. GET /metrics answers straight
from that grid. /render hands it to `spark.createDataFrame` on ONE
partition (`Coalesce 1`, so the grid reports SinglePartition and the
planner adds no exchange under the function chain's windows, aggregates
and joins); every target of a request is evaluated into one plan and
collected once as Arrow (`collect_sorted`), so a render runs one Spark job.
Measured against the Spark plan on 0.5-142 MiB of kept files
(tools/driver_read_sizes.py), the driver was faster at every size.

`query_metrics_df` is the Spark form of the same read, for DataFrame
stores (the query registry, the oracle, analytics, and the reference the
driver executor is tested against): a pruned parquet scan with path/time
predicates pushed down, ONE hash re-aggregation on (path, slot), and a
spine built in the JVM (a `range` of slots, each exploding the path list
shipped as one JSON literal) left-joined to the aggregate, so a read starts
no Python worker. Both follow the same A11-A15 rules and a differential
test keeps them equal.

Documented divergence from the reference: our grid is inclusive of both
normalFrom and to (range(normalFrom, to + 1, step)); the reference's trailing
pad stops strictly before `to` (metricquery.go:215) while its interior loop
can emit a row AT `to` — a data-dependent off-by-one we replace with a
deterministic rule.
"""

from __future__ import annotations

import json
import time as _time
from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from cassabon_spark.config import RollupConfig
from cassabon_spark.session import empty_frame

if TYPE_CHECKING:
    from cassabon_spark.sources.snapshot import SnapshotTable

GRID_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("slot_s", LongType()),
        StructField("stat", DoubleType()),
    ]
)


def normalize_from(from_s: int, step: int) -> int:
    """A12: normalFrom = from + (step - from % step). Always advances, even on
    an exact boundary (reference metricquery.go:124 — replicated exactly)."""
    return from_s + (step - from_s % step)


def merge_slot_expr(ts_col, step: int):
    """A14: rows merge into the NEXT step boundary unless already aligned.
    slot = ceil(ts/step)*step, integer arithmetic (portable to the oracle)."""
    return (F.floor((ts_col + step - 1) / step) * step).cast("bigint")


def _rebucket(scan: DataFrame, step: int, method: str) -> DataFrame:
    """Re-aggregate scanned tier rows onto the step grid with the path's
    rollup method (A14), then scrub NaN to null (A15).

    AVERAGE uses the carried (vsum, cnt) when present — a true weighted
    average — instead of the reference's average-of-finalized-averages
    (metricquery.go:146-147,170-171; see SURVEY §7 hard-part 2).
    """
    ts_s = F.unix_timestamp("time")
    slotted = scan.withColumn("slot_s", merge_slot_expr(ts_s, step))
    has_carried = "vsum" in scan.columns and "cnt" in scan.columns
    if method == "average":
        agg = (
            (F.sum("vsum") / F.sum("cnt")).alias("stat")
            if has_carried
            else F.avg("stat").alias("stat")
        )
    elif method == "sum":
        agg = F.sum("stat").alias("stat")
    elif method == "min":
        agg = F.min("stat").alias("stat")
    elif method == "max":
        agg = F.max("stat").alias("stat")
    elif method == "last":
        order = F.col("last_ts") if "last_ts" in scan.columns else F.unix_timestamp("time")
        # struct tie-break on value: partial rows for the same window (merge-
        # at-read ingest) can share last_ts; keep LAST deterministic
        agg = F.max_by("stat", F.struct(order.alias("o"), F.col("stat"))).alias("stat")
    else:
        raise ValueError(f"unknown method {method!r}")
    out = slotted.groupBy("path", "slot_s").agg(agg)
    return out.withColumn("stat", F.when(F.isnan("stat"), F.lit(None)).otherwise(F.col("stat")))


def _spine(spark: SparkSession, paths: list[str], nfrom: int, to_s: int, step: int) -> DataFrame:
    """Dense (path, slot) grid: one row per step in [normalFrom, to] (A13),
    empty when normalization stepped past `to`. Built in the JVM: the slots
    are a one-partition `range` (the grid is bounded by the caller's cells
    cap and collected anyway) and the paths one JSON literal, which the
    optimizer folds to a constant array; JSON escapes any character a path
    can hold. A Python-side frame would start Python-worker tasks on every
    read."""
    names = F.from_json(F.lit(json.dumps(paths)), "array<string>")
    return spark.range(nfrom, to_s + 1, step, numPartitions=1).select(
        F.explode(names).alias("path"), F.col("id").alias("slot_s")
    )


def query_metrics_df(
    spark: SparkSession,
    store: DataFrame,
    paths: list[str],
    from_s: int,
    to_s: int,
    step: int,
    method: str,
    resolution_s: int | None = None,
) -> DataFrame:
    """DataFrame form of the read path for one (step, method) group:
    returns (path STRING, slot_s BIGINT, stat DOUBLE nullable), dense grid.
    """
    nfrom = normalize_from(from_s, step)
    scan = store.filter(F.col("path").isin(paths))
    if resolution_s is not None and "resolution_s" in store.columns:
        scan = scan.filter(F.col("resolution_s") == resolution_s)  # A10 partition pruning
    scan = scan.filter(
        (F.unix_timestamp("time") >= from_s) & (F.unix_timestamp("time") <= to_s)
    )  # A11 — pushed to parquet row-group stats
    bucketed = _rebucket(scan, step, method).filter(
        (F.col("slot_s") >= nfrom) & (F.col("slot_s") <= to_s)
    )
    spine = _spine(spark, paths, nfrom, to_s, step)
    return spine.join(bucketed, ["path", "slot_s"], "left").select("path", "slot_s", "stat")


def collect_sorted(df: DataFrame, keys: list[str]) -> pa.Table:
    """One Arrow collect (`toArrow`), sorted on the driver by `keys`
    ascending, nulls first (orderBy's order). Read results are already
    bounded by max_cells, so a global orderBy before the collect would only
    add its range-sampling job and a shuffle."""
    table = df.toArrow()
    order = pc.sort_indices(
        table, sort_keys=[(k, "ascending") for k in keys], null_placement="at_start"
    )
    return table.take(order)


@dataclass(frozen=True)
class StoreRead:
    """The files one bounded read scans: the manifest's file list at ONE
    pinned snapshot version, after partition and footer-stats pruning."""

    table: SnapshotTable
    files: list
    schema: dict | None

    def frame(self) -> DataFrame:
        """The pinned files as a Spark scan (a task-free empty frame when
        pruning kept none)."""
        if self.files:
            return self.table.read_files(self.files, schema=self.schema)
        if self.schema is None:
            raise ValueError(f"snapshot table {self.table.root} has no commits yet")
        return empty_frame(self.table.spark, StructType.fromJson(self.schema))


def _iso(s: int) -> str:
    return datetime.fromtimestamp(s, tz=timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def pin_store(
    table: SnapshotTable,
    from_s: int | None = None,
    to_s: int | None = None,
    paths: list[str] | None = None,
    stats: dict | None = None,
    version: int | None = None,
) -> StoreRead:
    """Pin one snapshot version (the latest unless given) and cut its file
    list driver-side from the manifest BEFORE anything plans: the
    date_bucket partition range first, then per-file footer min/max on
    `time` and `path` (narrow per file because ingest sortWithinPartitions
    by (path, time) — the clustering that makes stats skipping bite).
    Readers still apply the exact row filter; pruning only removes files
    that provably hold no row in [from_s, to_s]. `stats` (the engine's
    prune_stats) counts files listed vs kept."""
    part = None
    if from_s is not None or to_s is not None:
        f_day = _iso(from_s)[:10] if from_s is not None else None
        t_day = _iso(to_s)[:10] if to_s is not None else None

        def part(p, _f=f_day, _t=t_day):
            db = p.get("date_bucket")
            if db is None:
                return True
            return (_f is None or db >= _f) and (_t is None or db <= _t)

    prune = []
    if paths and not any(c in p for p in paths for c in ("*", "?", "[", "{")):
        # lexicographic path bounds: ingest clusters files by (path, time),
        # so concrete (glob-resolved) path lists cut files too. Only sound
        # for CONCRETE names — a glob leaking in ('*' sorts below
        # alphanumerics) would wrongly prune matching files, so skip the
        # bounds entirely in that case (conservative).
        prune.append(("path", ">=", min(paths)))
        prune.append(("path", "<=", max(paths)))
    if from_s is not None:
        prune.append(("time", ">=", _iso(from_s)))
    if to_s is not None:
        # +1s then string-compare: file stats carry fractional seconds
        # ('...12.500000'), and the row filter is unix_timestamp() <= to
        # which truncates — widen the prune bound so the boundary file with
        # rows at to_s + fraction is kept, never wrongly skipped
        prune.append(("time", "<=", _iso(to_s + 1)))
    v = table.version() if version is None else version
    snap = table.snapshot(v)
    kept = table.files_for(v, part, prune or None)
    if stats is not None:
        stats["files_total"] += len(snap["files"])
        stats["files_read"] += len(kept)
        stats["reads"] += 1
    return StoreRead(table, kept, snap.get("schema"))


@dataclass(frozen=True)
class Fetch:
    """One bounded read, planned once for every engine caller (GET
    /metrics, its result-cache key, /render's grids): tier selection (A10),
    maxDataPoints coarsening and the cells cap. `groups` maps (step,
    method, tier window) to the paths read that way; `run`/`frame` answer
    a StoreRead on the driver and a DataFrame store with the Spark plan."""

    groups: dict
    from_s: int
    to_s: int

    @classmethod
    def plan(
        cls,
        config: RollupConfig,
        paths: list[str],
        from_s: int,
        to_s: int,
        now_s: int | None = None,
        max_datapoints: int | None = None,
        max_cells: int | None = None,
        method: str | None = None,
        route_as: str | None = None,
    ) -> "Fetch":
        """Tier and method per path from its route, or from `route_as`'s
        for all of them (a render glob reads as one grid); `method`
        overrides the route's (consolidateBy). max_datapoints coarsens a
        group's step (read-time A14 re-aggregation) when the range would
        exceed that many slots per series; a grid that still exceeds
        max_cells raises instead of materializing on the driver."""
        now_s = int(_time.time()) if now_s is None else now_s
        span = max(0, to_s - from_s)

        def key_of(p: str) -> tuple[int, str, int]:
            d = config.route(p)
            tier = config.select_tier(d.expression, from_s, now_s)
            step, slots = tier.window_s, span // tier.window_s + 1
            if max_datapoints and slots > max_datapoints:
                step = tier.window_s * -(-slots // max_datapoints)  # ceil factor
            return step, method or d.method, tier.window_s

        groups: dict[tuple[int, str, int], list[str]] = {}
        if route_as is not None and paths:
            groups[key_of(route_as)] = list(paths)
        else:
            for p in paths:
                groups.setdefault(key_of(p), []).append(p)
        cells = sum(len(ps) * (span // k[0] + 1) for k, ps in groups.items())
        if max_cells and cells > max_cells:
            raise ValueError(
                f"read grid of {cells} cells exceeds max_cells={max_cells} "
                "(MAX_RENDER_CELLS); narrow the paths or time range, or lower "
                "max_datapoints"
            )
        return cls(groups, from_s, to_s)

    @property
    def step(self) -> int:
        """The response step. The reference serves ONE step per response
        (the first path's tier, metricquery.go:102-121); multi-step groups
        answer with the finest."""
        return min((k[0] for k in self.groups), default=0)

    def key(self) -> tuple:
        """Hashable plan identity, for result-cache keys."""
        return tuple(sorted((k, tuple(sorted(ps))) for k, ps in self.groups.items()))

    def _spark_grid(self, spark, store, key, paths) -> DataFrame:
        step, method, res = key
        scan = store.frame() if isinstance(store, StoreRead) else store
        return query_metrics_df(
            spark, scan, paths, self.from_s, self.to_s, step, method, resolution_s=res
        )

    def frame(self, spark: SparkSession, store) -> DataFrame:
        """The (path, slot_s, stat) grid of a one-group fetch (a render
        glob). A StoreRead's grid is built on the driver and handed to
        Spark as a local relation on one partition, so the function chain
        above it plans no exchange; a DataFrame store runs the Spark plan."""
        ((key, paths),) = self.groups.items()
        if isinstance(store, StoreRead):
            grid = arrow_grid(store, paths, self.from_s, self.to_s, *key)
            return spark.createDataFrame(grid, GRID_SCHEMA).coalesce(1)
        return self._spark_grid(spark, store, key, paths)

    def run(self, spark: SparkSession, store) -> dict:
        """MetricResponse-shaped dict {"from": normalFrom, "to", "step",
        "series": {path: [v|None, ...]}} (reference
        datastore/metricmanager.go:31-36). A StoreRead is answered on the
        driver with no Spark job; over a DataFrame store each group is one
        Spark grid, collected (bounded by the cells cap)."""
        if not self.groups:
            return {"from": self.from_s, "to": self.to_s, "step": 0, "series": {}}
        series: dict[str, list] = {}
        for key, paths in self.groups.items():
            if isinstance(store, StoreRead):
                g = arrow_grid(store, paths, self.from_s, self.to_s, *key)
            else:
                grid = self._spark_grid(spark, store, key, paths)
                g = collect_sorted(grid, ["path", "slot_s"])
            for p, v in zip(g.column("path").to_pylist(), g.column("stat").to_pylist()):
                series.setdefault(p, []).append(v)
        step = self.step
        return {
            "from": normalize_from(self.from_s, step),
            "to": self.to_s,
            "step": step,
            "series": series,
        }


def query_metrics(
    spark: SparkSession,
    store,
    config: RollupConfig,
    paths: list[str],
    from_s: int,
    to_s: int,
    now_s: int | None = None,
    max_datapoints: int | None = None,
    max_cells: int | None = None,
) -> dict:
    """Full GET /metrics equivalent over `store` (a DataFrame of rollup
    rows, or a StoreRead): plan the fetch, then run it (see Fetch)."""
    return Fetch.plan(
        config, paths, from_s, to_s, now_s, max_datapoints, max_cells
    ).run(spark, store)


_GRID_ARROW = pa.schema([("path", pa.string()), ("slot_s", pa.int64()), ("stat", pa.float64())])
_UNIT_PER_S = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}
#: the stored columns each method's re-aggregate reads (rollup.py's schema)
_COLUMNS_BY_METHOD = {
    "average": ["vsum", "cnt"],
    "sum": ["stat"],
    "min": ["stat"],
    "max": ["stat"],
    "last": ["stat", "last_ts"],
}


def _numpy(col) -> tuple[np.ndarray, np.ndarray]:
    """(float64 values with nulls as 0, not-null mask) of a numeric column."""
    ok = pc.is_valid(col).to_numpy(zero_copy_only=False)
    vals = pc.cast(col.fill_null(0), pa.float64()).to_numpy(zero_copy_only=False)
    return vals, ok


def arrow_grid(
    store: StoreRead,
    paths: list[str],
    from_s: int,
    to_s: int,
    step: int,
    method: str,
    resolution_s: int | None = None,
) -> pa.Table:
    """query_metrics_df's grid, computed on the driver: pyarrow scans the
    pinned files batch by batch, and numpy does the A11 time filter, A14
    merge to the next boundary and per-method re-aggregate (folded into the
    grid one batch at a time, so memory is one batch plus the grid), A15
    NaN scrub and the A13 dense spine. Same rows (a repeated path repeats
    its rows, as the spine's explode does), sorted by (path, slot_s)."""
    nfrom = normalize_from(from_s, step)
    names = sorted(set(paths))
    slots = np.arange(nfrom, to_s + 1, step, dtype=np.int64)
    n = len(names) * len(slots)
    fold = _Fold(method, n)
    files = [
        f
        for f in store.files
        if resolution_s is None
        or int(f["partition"].get("resolution_s", resolution_s)) == resolution_s
    ]
    if n and files:
        value_set = pa.array(names)
        need = ["path", "time"] + _COLUMNS_BY_METHOD[method]
        for b in store.table.scan_arrow(files, need, pc.field("path").isin(names)):
            time_col = b.column("time")
            secs = pc.cast(time_col, pa.int64()).to_numpy() // _UNIT_PER_S[time_col.type.unit]
            slot = -(-secs // step) * step  # A14: ceil to the next boundary
            keep = (secs >= from_s) & (secs <= to_s) & (slot >= nfrom) & (slot <= to_s)
            if not keep.any():
                continue
            b, slot = b.filter(pa.array(keep)), slot[keep]
            row = pc.index_in(b.column("path"), value_set=value_set).to_numpy()
            fold.add(b, row * len(slots) + (slot - nfrom) // step)
    stat, ok = fold.result()
    ok &= ~np.isnan(stat)  # A15
    idx = np.arange(n)
    mult = Counter(paths)
    if len(mult) < len(paths):
        idx = np.repeat(idx, np.repeat([mult[p] for p in names], len(slots)))
    width = max(len(slots), 1)
    return pa.table(
        [
            pa.array(names, pa.string()).take(pa.array(idx // width)),
            pa.array(slots[idx % width]),
            pa.array(stat[idx], mask=~ok[idx]),
        ],
        schema=_GRID_ARROW,
    )


def _add_at(acc: np.ndarray, cell: np.ndarray, weights: np.ndarray) -> None:
    """acc[cell] += weights, summing repeats: a bincount over the batch's
    own cell span (files are clustered by (path, time), so it is narrow)."""
    lo = cell.min()
    part = np.bincount(cell - lo, weights=weights)
    acc[lo : lo + len(part)] += part


def _last_key(order, o_ok, v, v_ok) -> list[np.ndarray]:
    """LAST's max_by(stat, struct(last_ts, stat)) order as plain-comparable
    keys, most significant first: nulls least and NaN greatest, as Spark
    orders doubles."""
    o_nan, v_nan = np.isnan(order), np.isnan(v)
    return [o_ok, o_nan, np.where(o_nan, 0.0, order), v_ok, v_nan, np.where(v_nan, 0.0, v)]


class _Fold:
    """Per-cell re-aggregate of the scanned tier rows, with _rebucket's
    rules over an engine store (every row carries vsum, cnt and last_ts),
    folded one record batch at a time into arrays over the n grid cells.

    Spark's NaN rules, which numpy does not share by default: NaN orders
    greatest, so max([1, NaN]) is NaN, min([1, NaN]) is 1, min([NaN]) is
    NaN, and LAST's (last_ts, stat) tie-break prefers NaN — and any NaN
    left is scrubbed to null by the caller."""

    def __init__(self, method: str, n: int):
        if method not in _COLUMNS_BY_METHOD:
            raise ValueError(f"unknown method {method!r}")
        self.method = method
        self.seen = np.zeros(n)  # rows with a non-null value, per cell
        if method == "average":
            self.num, self.den, self.seen_cnt = np.zeros(n), np.zeros(n), np.zeros(n)
        elif method == "sum":
            self.out = np.zeros(n)
        elif method == "min":
            self.out = np.full(n, np.nan)
        elif method == "max":
            self.out = np.full(n, -np.inf)
        else:  # last: the winning row's key per cell; `won` marks cells with one
            self.key = _last_key(np.zeros(n), np.zeros(n, bool), np.zeros(n), np.zeros(n, bool))
            self.won = np.zeros(n, bool)

    def add(self, b: pa.RecordBatch, cell: np.ndarray) -> None:
        if self.method == "average":
            vsum, s_ok = _numpy(b.column("vsum"))
            cnt, c_ok = _numpy(b.column("cnt"))
            _add_at(self.num, cell, vsum)
            _add_at(self.den, cell, cnt)
            _add_at(self.seen, cell, s_ok)
            _add_at(self.seen_cnt, cell, c_ok)
            return
        v, v_ok = _numpy(b.column("stat"))
        if self.method != "last":
            _add_at(self.seen, cell, v_ok)
        if self.method == "sum":
            _add_at(self.out, cell, v)  # nulls weigh 0
        elif self.method == "min":
            np.fmin.at(self.out, cell[v_ok], v[v_ok])  # fmin skips NaN unless all NaN
        elif self.method == "max":
            with np.errstate(invalid="ignore"):
                np.maximum.at(self.out, cell[v_ok], v[v_ok])  # maximum propagates NaN
        else:
            order, o_ok = _numpy(b.column("last_ts"))
            key = _last_key(order, o_ok, v, v_ok)
            # the batch's winner per cell: the last row of each cell sorted
            # by key, then kept where it beats the cell's winner so far
            srt = np.lexsort(key[::-1] + [cell])
            c = cell[srt]
            win = srt[np.r_[c[1:] != c[:-1], True]]
            cells = cell[win]
            gt, eq = ~self.won[cells], self.won[cells]
            for new, old in zip(key, self.key):
                gt |= eq & (new[win] > old[cells])
                eq &= new[win] == old[cells]
            for new, old in zip(key, self.key):
                old[cells[gt]] = new[win[gt]]
            self.won[cells[gt]] = True

    def result(self) -> tuple[np.ndarray, np.ndarray]:
        """(stat, has-value) over the grid cells."""
        has = self.seen > 0
        if self.method == "average":
            has &= (self.seen_cnt > 0) & (self.den != 0)
            return self.num / np.where(has, self.den, 1.0), has
        if self.method == "last":
            v_ok, v_nan, v = self.key[3:]
            return np.where(v_nan, np.nan, v), self.won & v_ok
        return self.out, has


def delete_metrics(
    store: DataFrame,
    paths: list[str],
    from_s: int,
    to_s: int,
    dry_run: bool = True,
):
    """A19: per (path, tier) count in [from, to]; delete unless dry-run.

    Dry-run defaults TRUE like the reference (api/api.go:188-191). Returns
    (report_df, remaining_df|None): report has (path, resolution_s, cnt);
    remaining is the anti-filtered dataset to rewrite when not dry-run
    (Delta-style DELETE WHERE is a partition rewrite on plain parquet).
    """
    hit = (
        F.col("path").isin(paths)
        & (F.unix_timestamp("time") >= from_s)
        & (F.unix_timestamp("time") <= to_s)
    )
    report = (
        store.filter(hit)
        .groupBy("path", "resolution_s")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("path", "resolution_s")
    )
    if dry_run:
        return report, None
    return report, store.filter(~hit)
