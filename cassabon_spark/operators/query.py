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

Spark-first shape: tier selection is driver-side Python over the broadcast
rollup config; the scan is a partition-pruned parquet read with path/time
predicates pushed down; merge is ONE hash re-aggregation on (path, slot); the
spine is a tiny generated sequence left-joined against the (bounded,
paths x slots sized) aggregate. Nothing here grows with raw data volume
except the pruned scan itself.

Documented divergence from the reference: our grid is inclusive of both
normalFrom and to (sequence(normalFrom, to, step)); the reference's trailing
pad stops strictly before `to` (metricquery.go:215) while its interior loop
can emit a row AT `to` — a data-dependent off-by-one we replace with a
deterministic rule.
"""

from __future__ import annotations

import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassabon_spark.config import RollupConfig


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
    """Dense (path, slot) grid: one row per step in [normalFrom, to] (A13)."""
    pdf = spark.createDataFrame([(p,) for p in paths], "path string")
    return pdf.select(
        "path",
        F.explode(
            F.sequence(F.lit(nfrom).cast("bigint"), F.lit(to_s).cast("bigint"), F.lit(step))
        ).alias("slot_s"),
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
    if nfrom > to_s:
        # always-advance normalization stepped past `to`: the grid is empty
        # (the reference returns zero slots for such a range; Spark's
        # sequence() would throw on the inverted bounds)
        return spark.createDataFrame([], "path string, slot_s bigint, stat double")
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


def collect_sorted(df: DataFrame, keys: list[str]) -> list:
    """collect(), then sort on the driver by `keys` ascending, nulls first
    (orderBy's order). Read results are already bounded by max_cells, so a
    global orderBy before the collect would only add its range-sampling job
    and a shuffle."""
    idx = [df.columns.index(k) for k in keys]
    rows = df.collect()
    rows.sort(key=lambda r: tuple((r[i] is not None, r[i]) for i in idx))
    return rows


def query_metrics(
    spark: SparkSession,
    store: DataFrame,
    config: RollupConfig,
    paths: list[str],
    from_s: int,
    to_s: int,
    now_s: int | None = None,
    max_datapoints: int | None = None,
    max_cells: int | None = None,
) -> dict:
    """Full GET /metrics equivalent -> MetricResponse-shaped dict
    {"from": normalFrom, "to": to, "step": step, "series": {path: [v|None,...]}}
    (reference datastore/metricmanager.go:31-36).

    Tier/step selection per path via the broadcast config (A10); paths that
    share (step, method) are answered by one DataFrame chain; results are
    collected (bounded by paths x slots, same as the reference's response).

    max_datapoints coarsens the step (read-time A14 re-aggregation with the
    path's own method) when the range would exceed that many slots per
    series — bounding BOTH the spine and the collect. max_cells is the hard
    guard: a request whose paths x slots grid still exceeds it raises
    instead of materializing an unbounded response on the driver.
    """
    now_s = int(_time.time()) if now_s is None else now_s
    groups: dict[tuple[int, str, int], list[str]] = {}
    for p in paths:
        d = config.route(p)
        tier = config.select_tier(d.expression, from_s, now_s)
        grp_step = tier.window_s
        if max_datapoints:
            slots = max(0, to_s - from_s) // grp_step + 1
            if slots > max_datapoints:
                grp_step = tier.window_s * -(-slots // max_datapoints)  # ceil
        groups.setdefault((grp_step, d.method, tier.window_s), []).append(p)
    if not groups:
        return {"from": from_s, "to": to_s, "step": 0, "series": {}}
    if max_cells:
        cells = sum(
            len(ps) * (max(0, to_s - from_s) // k[0] + 1) for k, ps in groups.items()
        )
        if cells > max_cells:
            raise ValueError(
                f"metrics grid of {cells} cells exceeds max_cells={max_cells}; "
                "narrow the paths or time range, or lower max_datapoints"
            )
    # The reference serves ONE step per response (the first path's tier,
    # metricquery.go:102-121); multi-step groups answer with the finest.
    step = min(k[0] for k in groups)
    series: dict[str, list] = {}
    nfrom = normalize_from(from_s, step)
    for (grp_step, method, res), grp_paths in groups.items():
        df = query_metrics_df(
            spark, store, grp_paths, from_s, to_s, grp_step, method, resolution_s=res
        )
        for r in collect_sorted(df, ["path", "slot_s"]):
            series.setdefault(r["path"], []).append(r["stat"])
    return {"from": nfrom, "to": to_s, "step": step, "series": series}


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
