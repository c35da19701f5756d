"""Rollup aggregation: routing, tumbling windows, multi-tier fan-out.

Reference operators A5-A9 (SURVEY §2):
  - regex route, first-match-wins      (datastore/metricstore.go:11-22)
  - tumbling window agg, 5 methods     (datastore/metricstore.go:25-43,61-185)
  - window close-time stamping         (datastore/metricstore.go:109-116,
                                        datastore/util.go:17-25)
  - multi-tier fan-out                 (datastore/metricstore.go:76-81)

Spark-first design decisions:
  * Routing is ONE Catalyst when/rlike chain (no Python), built by
    RollupConfig.routing_when_chain(). Constant-folded literals, whole-stage
    codegen.
  * Only the FINEST tier aggregates the raw stream (one shuffle over the big
    data). Coarser tiers re-aggregate the finest tier's output — legal because
    the config validator enforces exact-multiple windows (reference
    config/config_parser.go:401-434), and the finest tier is orders of
    magnitude smaller than the raw input, so tier fan-out costs ~nothing at
    100 TB. This replaces the reference's "accumulate every metric into every
    window" (metricstore.go:76-81) with an equivalent but shuffle-cheap plan.
  * AVERAGE carries (vsum, cnt) so cross-tier re-aggregation is a true
    weighted average — the reference re-averages finalized values at read
    time, which is a weighted-average bug we fix and document (SURVEY §7
    hard-part 2).
  * LAST is latest-by-timestamp via max_by (deterministic refinement of the
    reference's arrival-order LAST — SURVEY §2 note ①). Timestamp ties are
    broken by the larger VALUE (max_by over struct(ts, value)); NaN sorts
    greatest in both Spark and DuckDB, so a NaN at the latest timestamp wins
    the tie — consistent with NaN-poisoning — and the result is fully
    deterministic under any row order (fuzz-checked).

Storage schema (FIXTURES.md §1.4, extended for lossless re-agg):
  path STRING, time TIMESTAMP (window CLOSE), stat DOUBLE,
  cnt BIGINT, vsum/vmin/vmax/vlast DOUBLE, last_ts DOUBLE,
  method STRING, resolution_s BIGINT, date_bucket STRING (the two
  partition columns, PARTITION_COLS)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassabon_spark.config import RollupConfig

STAT_BY_METHOD = {
    "average": lambda: F.col("vsum") / F.col("cnt"),
    "max": lambda: F.col("vmax"),
    "min": lambda: F.col("vmin"),
    "sum": lambda: F.col("vsum"),
    "last": lambda: F.col("vlast"),
}


def _stat_expr():
    """stat = CASE method ... END over the carried aggregate columns."""
    expr = None
    for m, fn in STAT_BY_METHOD.items():
        cond = F.col("method") == m
        expr = F.when(cond, fn()) if expr is None else expr.when(cond, fn())
    return expr


def _method_chain(config: RollupConfig):
    """expression -> method as a literal CASE chain (few expressions)."""
    expr = None
    for d in config.rollups:
        cond = F.col("expression") == d.expression
        expr = F.when(cond, F.lit(d.method)) if expr is None else expr.when(cond, F.lit(d.method))
    return expr.otherwise(F.lit("average"))


def route(metrics: DataFrame, config: RollupConfig) -> DataFrame:
    """Add (expression, method) columns via the priority when-chain (A5)."""
    return metrics.withColumn("expression", config.routing_when_chain()).withColumn(
        "method", _method_chain(config)
    )


def rollup_finest(routed: DataFrame, config: RollupConfig) -> DataFrame:
    """Aggregate the raw stream into each expression's FINEST window tier.

    Input: routed metrics (path, value, ts DOUBLE epoch, expression, method).
    One hash aggregation -> one shuffle on (path, window). Window close time
    stamping matches the reference: row time = window end (metricstore.go:109-116),
    epoch-aligned (util.go:17-25 + SURVEY note ②).
    """
    # One scan + one shuffle per DISTINCT finest window size, not per
    # expression: rows are already routed to exactly one expression, so all
    # expressions sharing a finest window aggregate together (the common
    # config has ONE finest size -> exactly one pass over the raw data).
    by_w: dict[int, list[str]] = {}
    for d in config.rollups:
        by_w.setdefault(d.finest.window_s, []).append(d.expression)
    finest = None
    for w, exprs in sorted(by_w.items()):
        part = routed if len(by_w) == 1 else routed.filter(F.col("expression").isin(exprs))
        part = (
            part.groupBy(
                "path",
                "expression",
                "method",
                F.window(F.timestamp_seconds("ts"), f"{w} seconds").alias("win"),
            )
            .agg(
                F.count("value").alias("cnt"),
                F.sum("value").alias("vsum"),
                F.min("value").alias("vmin"),
                F.max("value").alias("vmax"),
                F.max_by("value", F.struct("ts", "value")).alias("vlast"),
                F.max("ts").alias("last_ts"),
            )
            .withColumn("time", F.col("win.end"))
            .withColumn("resolution_s", F.lit(w).cast("bigint"))
            .drop("win")
        )
        finest = part if finest is None else finest.unionByName(part)
    return finest.withColumn("stat", _stat_expr())


def rollup_coarser(finest: DataFrame, config: RollupConfig) -> DataFrame:
    """Derive every coarser tier by re-aggregating the finest tier's rows.

    A finest window [t, t+wf) nests inside coarse [k*W, (k+1)*W) because
    wf | W (validator guarantee). Coarse close = ceil(end/W)*W in integer
    seconds. Lossless: sum/min/max re-aggregate directly, average re-derives
    from (vsum, cnt), last = max_by(vlast, last_ts).
    """
    # Same batching as rollup_finest: one re-aggregation per DISTINCT coarse
    # window size, with all expressions carrying that window handled together.
    by_w: dict[int, list[str]] = {}
    n_exprs = 0
    for d in config.rollups:
        n_exprs += 1
        for w in d.windows[1:]:  # windows sorted finest-first
            by_w.setdefault(w.window_s, []).append(d.expression)
    out = None
    for W, exprs in sorted(by_w.items()):
        part = finest if len(exprs) == n_exprs else finest.filter(
            F.col("expression").isin(exprs)
        )
        end_s = F.unix_timestamp("time")
        coarse_close = (F.floor((end_s + W - 1) / W) * W).cast("bigint")
        part = (
            part.withColumn("ctime", F.timestamp_seconds(coarse_close))
            .groupBy("path", "expression", "method", "ctime")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.sum("vsum").alias("vsum"),
                F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"),
                F.max_by("vlast", F.struct("last_ts", "vlast")).alias("vlast"),
                F.max("last_ts").alias("last_ts"),
            )
            .withColumnRenamed("ctime", "time")
            .withColumn("resolution_s", F.lit(W).cast("bigint"))
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        return finest.limit(0)
    return out.withColumn("stat", _stat_expr())


def rollup_all_tiers(metrics: DataFrame, config: RollupConfig) -> DataFrame:
    """route -> finest agg -> coarse re-agg; union of all tiers (A8). See
    rollup_tiers; its finest-tier checkpoint stays until Spark's cleaner
    drops it."""
    return rollup_tiers(metrics, config)[1]


def rollup_tiers(metrics: DataFrame, config: RollupConfig) -> tuple[DataFrame, DataFrame]:
    """(finest, all tiers): the union of all tiers, plus the checkpointed
    finest tier it reads, so a caller can release its blocks
    (session.release_checkpoint) once the union is written.

    finest feeds BOTH union branches and Catalyst does not reuse the
    aggregation subtree across them (verified: the uncached plan carries 2
    parquet scans / 4 exchanges, 0 ReusedExchange), so it must be
    materialized once — without it the expensive raw-data shuffle runs
    twice. r14: `.localCheckpoint()` (eager) replaces the r3 `.cache()`.
    The cache blocked AQE partition coalescing inside the cached subtree
    (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning default):
    the cached finest tier materialized as 132 unconsolidated micro-tasks
    and every consumer stage inherited them, vs 7 tasks checkpointed.
    Measured at sf0.1 (min-of-3 noop sink / min-of-2 count, idle box):
    noop 1.64 s cached vs 1.45 s checkpointed vs 1.21 s uncached;
    count 2.84 / 1.42 / 1.12. Uncached is fastest locally but doubles the
    raw scan+shuffle — wrong at 100 TB, so the single-materialization
    eager checkpoint wins. Trade-off (guide §5): lineage is truncated, so
    an executor loss fails the query instead of recomputing — acceptable
    for a batch query path; the production write path persists finest to
    the store and re-aggregates stored rows anyway.
    """
    routed = route(metrics, config)
    finest = rollup_finest(routed, config).localCheckpoint()
    return finest, finest.unionByName(rollup_coarser(finest, config))


#: The store layout (replaces the reference's per-retention Cassandra tables,
#: datastore/metricmanager.go:149-179): one partition per (tier, UTC day).
#: Tier selection prunes `resolution_s` (SURVEY A10); retention drops whole
#: date buckets (Spark has no TTL primitive). Writers cluster rows by
#: (path, time) inside files, the reference's CLUSTERING ORDER
#: (metricmanager.go:158-171), so footer min/max stats skip on both.
PARTITION_COLS = ("resolution_s", "date_bucket")


def with_date_bucket(rollups: DataFrame) -> DataFrame:
    """Add the `date_bucket` partition column: the UTC day of `time`."""
    return rollups.withColumn("date_bucket", F.date_format("time", "yyyy-MM-dd"))


def retention_cutoff_days(config: RollupConfig, now_s: int) -> dict[int, str]:
    """Per-resolution expiry cutoff: a date_bucket STRING strictly below the
    cutoff string is past TTL (retention * 1.1, minus a day of slack for
    bucket granularity). The cutoff keeps its time-of-day suffix so the
    lexicographic compare reproduces `bucket_midnight < cutoff_datetime`
    exactly ('2020-01-05' < '2020-01-05 14:00:00'; a cutoff landing on
    midnight drops the suffix so equality is not a hit). Engine.sweep_retention
    drops the expired partitions from the snapshot manifest."""
    from datetime import datetime, timedelta, timezone

    cutoffs: dict[int, str] = {}
    retention_by_window: dict[int, int] = {}
    for d in config.rollups:
        for w in d.windows:
            r = retention_by_window.get(w.window_s, 0)
            retention_by_window[w.window_s] = max(r, int(w.retention_s * 1.1))
    for res, ttl in retention_by_window.items():
        cutoff = datetime.fromtimestamp(now_s - ttl, tz=timezone.utc) - timedelta(days=1)
        fmt = "%Y-%m-%d" if cutoff.strftime("%H:%M:%S") == "00:00:00" else "%Y-%m-%d %H:%M:%S"
        cutoffs[res] = cutoff.strftime(fmt)
    return cutoffs
