"""Structured Streaming ingest: carbon lines -> partial rollup rows -> store.

Replaces the reference's write path (SURVEY §3.1: listener goroutines ->
channels -> in-memory accumulators -> timed flush -> Cassandra batches,
listener/carbon_plaintext.go + datastore/metricmanager.go) with a
Spark-first design:

  stream of lines
    -> parse/validate (A3, pure Catalyst)
    -> route (A5, when-chain)
    -> PER-MICROBATCH partial aggregation (rollup_finest on the batch)
    -> append partial tier rows to the partitioned parquet store (A9)
    -> new paths from the same rolled-up rows into the path/tag indexes

The microbatch's source is read once: with the index on, the rolled-up rows
are materialised once and every consumer reads them.

Key design decision — STATELESS partial aggregation + merge-at-read:
the reference accepts arbitrarily late data by merging rows at read time
(A14, metricquery.go:163-210). We exploit that: each microbatch appends
batch-local partial aggregates (path, window, cnt, vsum, vmin, vmax, vlast,
last_ts). Multiple partials for the same window are ADDITIVE under every
rollup method (sum/cnt for average, min/max, max_by for last), and the read
path already re-aggregates on scan — so:
  * no streaming state store (no state growth with path cardinality —
    SURVEY §7 hard-part 4 disappears),
  * no watermark needed for correctness (late rows just append more
    partials; exactly the reference's "accept anything" semantics),
  * exactly-once in snapshot mode: each append carries the txn
    (query id from the checkpoint, batch id), so a batch replayed after a
    crash between the manifest commit and the offset commit is a no-op.
    Partials are additive, not idempotent: the 'dirs' format has no txn
    log, so there a replay appends the batch's partials twice
    (at-least-once).
A periodic `compact_store` job re-aggregates partials into one row per
(path, window) to keep read amplification bounded — the analog of the
reference's flush, but it only ever touches recent date-bucket partitions.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassabon_spark.config import RollupConfig
from cassabon_spark.operators.rollup import rollup_finest, route
from cassabon_spark.sources.carbon import parse_carbon_lines


def _write_batch(
    batch_df: DataFrame,
    batch_id: int,
    config: RollupConfig,
    out_dir: str,
    index_dir: str | None = None,
    table_format: str = "dirs",
    compact_zorder: bool = True,
    stream_id: str | None = None,
):
    """One microbatch: parse -> route -> rollup_finest, then feed the store
    append and (with `index_dir`) the path and tag indexes from the rolled-up
    rows. `stream_id` keys snapshot appends as (stream_id, batch_id), so a
    batch replayed after a crash commits nothing twice."""
    metrics, _ = parse_carbon_lines(batch_df, line_col="value")
    finest = rollup_finest(route(metrics, config), config)
    if finest is None:
        return
    # With the index on, three consumers read the batch; materialise the
    # rollup once so the source is scanned once, not once per consumer.
    # Every parsed path reaches `finest` (rollup_finest groups by path and
    # drops nothing), so the indexes lose nothing by reading it.
    # localCheckpoint, not persist: a cached plan keeps all shuffle
    # partitions (canChangeCachedPlanOutputPartitioning is off), so each
    # batch would stage one store file per shuffle partition; the
    # checkpoint keeps AQE's coalesced partitioning.
    shared = index_dir is not None
    if shared:
        finest = finest.localCheckpoint()
    try:
        bucketed = finest.withColumn(
            "date_bucket", F.date_format("time", "yyyy-MM-dd")
        )
        if table_format == "snapshot":
            # one atomic manifest commit per microbatch: readers never see a
            # half-written batch, and a crash before commit leaves only
            # orphan files for vacuum (sources/snapshot.py)
            from cassabon_spark.sources.snapshot import SnapshotTable

            table = SnapshotTable(batch_df.sparkSession, out_dir)
            table.append(
                bucketed,
                partition_cols=("resolution_s", "date_bucket"),
                txn=None if stream_id is None else (stream_id, int(batch_id)),
            )
            # threshold-triggered auto-compaction: partitions accumulating
            # many small partial files merge back to one row per (path,
            # window); manifests beyond the retain window are pruned so head
            # resolution and file listings stay O(1) in commit count. No-op
            # cost: one manifest read per batch. Default transform z-orders
            # the rewrite by (path, time) so manifest stats pruning bites on
            # both read dims (compact_zorder=False keeps the 1-file
            # path-major sort).
            table.auto_compact(
                compact_snapshot_partition_zorder
                if compact_zorder
                else compact_snapshot_partition,
                partition_cols=("resolution_s", "date_bucket"),
            )
        else:
            (
                bucketed.write.partitionBy("resolution_s", "date_bucket")
                .mode("append")
                .parquet(out_dir)
            )
        if shared:
            # reference step 8 (SURVEY §3.1): new paths ride the same batch
            # into the index, anti-joined so only first sightings expand
            from cassabon_spark.operators.index import update_indexes

            update_indexes(
                batch_df.sparkSession, finest, index_dir, f"{index_dir}_tags"
            )
    finally:
        if shared:
            # the checkpoint's frame is the LogicalRDD over the pinned rows
            finest._jdf.queryExecution().logical().rdd().unpersist(False)


def _stream_id(checkpoint_dir: str | None) -> str | None:
    """The query id Spark keeps in `<checkpoint>/metadata`: the same across
    restarts from one checkpoint, new when the checkpoint is recreated (so a
    deleted-and-reused checkpoint dir never inherits old txn versions)."""
    if not checkpoint_dir:
        return None
    with open(os.path.join(checkpoint_dir, "metadata")) as fh:
        return json.loads(fh.readline())["id"]


def kafka_records_to_lines(records: DataFrame) -> DataFrame:
    """Kafka record payloads -> one carbon line per row (column `value`).

    A Kafka record carries a BINARY value that may hold MANY newline-joined
    carbon lines (producers batch, exactly like the reference's UDP
    datagrams, carbon_plaintext.go:148-183 — but record framing means no
    cross-record reassembly is ever needed). Split + explode, drop empties;
    the downstream parse (A3) handles anything malformed.

    Pure Catalyst (split/explode/filter), shared verbatim between the
    streaming reader and the batch unit test.
    """
    return (
        records.select(
            F.explode(F.split(F.col("value").cast("string"), "\n")).alias("value")
        )
        .filter(F.trim("value") != "")
    )


def lines_reader(
    spark: SparkSession,
    source: str = "files",
    lines_dir: str | None = None,
    source_options: dict | None = None,
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming DataFrame of carbon lines (column `value`) from any source.

    source='files'  — file-drop dir (the tested production shape; the
                      socket bridge in sources.bridge rolls TCP/UDP into
                      files). Needs lines_dir.
    source='kafka'  — readStream.format('kafka') with source_options
                      passed through (kafka.bootstrap.servers, subscribe,
                      startingOffsets, ...). Payloads may be multi-line;
                      kafka_records_to_lines normalizes them.
    source='socket' — readStream.format('socket') (dev-only, at-most-once;
                      host/port in source_options).

    Everything downstream (parse -> route -> rollup -> sink) is identical
    across sources — the graph is source-agnostic by construction.
    """
    opts = dict(source_options or {})
    if source == "files":
        if not lines_dir:
            raise ValueError("source='files' needs lines_dir")
        return (
            spark.readStream.option("maxFilesPerTrigger", str(max_files_per_trigger))
            .options(**opts)
            .text(lines_dir)
        )
    if source == "kafka":
        records = spark.readStream.format("kafka").options(**opts).load()
        return kafka_records_to_lines(records)
    if source == "socket":
        return spark.readStream.format("socket").options(**opts).load()
    raise ValueError(f"unknown ingest source {source!r}")


def ingest_stream(
    spark: SparkSession,
    config: RollupConfig,
    lines_dir: str | None = None,
    out_dir: str = None,
    checkpoint_dir: str = None,
    available_now: bool = False,
    trigger_seconds: int = 5,
    max_files_per_trigger: int = 64,
    index_dir: str | None = None,
    table_format: str = "dirs",
    source: str = "files",
    source_options: dict | None = None,
    compact_zorder: bool = True,
):
    """Start the ingest query: lines from `source` (files / kafka / socket,
    see lines_reader) through parse -> route -> rollup -> store.

    Returns the StreamingQuery. Caller owns awaitTermination/stop.
    """
    lines = lines_reader(
        spark,
        source=source,
        lines_dir=lines_dir,
        source_options=source_options,
        max_files_per_trigger=max_files_per_trigger,
    )

    def process(df, bid):
        # snapshot appends are keyed by (query id, batch id); the query id
        # is only in the checkpoint once the query has started
        sid = _stream_id(checkpoint_dir) if table_format == "snapshot" else None
        _write_batch(
            df, bid, config, out_dir, index_dir, table_format, compact_zorder, sid
        )

    writer = lines.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def compact_partials(part: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """Merge partial rollup rows into one row per (path, window): the
    additive re-aggregation every carried column supports (sum/cnt, min,
    max, struct-tie-broken last). Shared by the directory compactor below
    and the snapshot-table compaction paths (engine.compact + the
    auto-compaction trigger). extra_keys keeps partition columns through
    the merge when compacting in place."""
    return (
        part.groupBy("path", "expression", "method", "time", *extra_keys)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("vsum").alias("vsum"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.max_by("vlast", F.struct("last_ts", "vlast")).alias("vlast"),
            F.max("last_ts").alias("last_ts"),
        )
        .withColumn(
            "stat",
            F.when(F.col("method") == "average", F.col("vsum") / F.col("cnt"))
            .when(F.col("method") == "max", F.col("vmax"))
            .when(F.col("method") == "min", F.col("vmin"))
            .when(F.col("method") == "sum", F.col("vsum"))
            .when(F.col("method") == "last", F.col("vlast")),
        )
    )


def compact_snapshot_partition(df: DataFrame) -> DataFrame:
    """Partition-compaction transform for SnapshotTable.rewrite_partition /
    auto_compact: merge partials keeping the partition columns, one sorted
    output file per partition (row-group-friendly for the read path's
    path/time predicates)."""
    return (
        compact_partials(df, extra_keys=("resolution_s", "date_bucket"))
        .repartition(1)
        .sortWithinPartitions("path", "time")
    )


def compact_snapshot_partition_zorder(
    df: DataFrame, n_files: int = 4, bits: int = 8
) -> DataFrame:
    """Z-ORDERED partition compaction (the measured default for streaming
    ingest, VERDICT r3 #5): merge partials, then cluster the rewrite on
    the Morton key of (path rank, time) so per-file footer stats come out
    narrow on BOTH read dimensions at once — store_for's driver-side
    manifest pruning then skips files for path-scoped AND time-windowed
    queries, where the plain (path, time) sort only bounds path tightly.

    Path is rank-bucketed via percent_rank over the partition's DISTINCT
    paths — rank order == lexicographic order, so the path min/max bounds
    store_for prunes on stay tight per file. That window is global but
    runs over the distinct-path set of ONE (resolution, day) partition
    (series cardinality, not row count); the rank dim then broadcasts
    back onto the rows. Time is linear-bucketed against the partition's
    time envelope (one tiny global agg, broadcast).

    n_files > 1 is what makes z-order bite: each output file covers a
    small z range, i.e. a small (path-range x time-range) rectangle."""
    from pyspark.sql import Window

    from cassabon_spark.operators.layout import linear_bucket_expr, zorder_key_expr

    merged = compact_partials(df, extra_keys=("resolution_s", "date_bucket"))
    levels = (1 << bits) - 1
    ranks = (
        merged.select("path")
        .distinct()
        .withColumn(
            "__pb",
            F.floor(
                F.percent_rank().over(Window.orderBy("path")) * levels
            ).cast("long"),
        )
    )
    tsec = F.unix_timestamp(F.col("time")).cast("double")
    env = merged.agg(
        F.min(tsec).alias("__tmn"), F.max(tsec).alias("__tmx")
    )
    clustered = (
        merged.join(F.broadcast(ranks), "path")
        .crossJoin(F.broadcast(env))
        .withColumn(
            "__tb",
            linear_bucket_expr(tsec, F.col("__tmn"), F.col("__tmx"), bits),
        )
        .withColumn("__z", zorder_key_expr([F.col("__pb"), F.col("__tb")], bits))
        .drop("__pb", "__tb", "__tmn", "__tmx")
    )
    return (
        clustered.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def compact_store(
    spark: SparkSession, store_dir: str, resolution_s: int, date_bucket: str
) -> None:
    """Merge partial rows into one row per (path, window) for one partition —
    the streaming-era analog of the reference's window flush
    (datastore/metricstore.go:85-185), run as a periodic batch job.

    Touches exactly one (resolution_s, date_bucket) partition: read, re-agg,
    overwrite. At scale this is an embarrassingly parallel per-partition job
    driven by partition listing, not a full-table rewrite.
    """
    path = f"{store_dir}/resolution_s={resolution_s}/date_bucket={date_bucket}"
    part = spark.read.parquet(path)
    compacted = compact_partials(part)
    # write-then-rename: materializing via cache and overwriting the source
    # corrupts the partition if the cache is evicted mid-write (recompute
    # would scan the directory being overwritten); tmp lives outside the
    # store root so partition discovery never sees a half-written bucket
    import shutil
    from pathlib import Path

    tmp = f"{store_dir}__compact_tmp/resolution_s={resolution_s}/date_bucket={date_bucket}"
    compacted.repartition(1).sortWithinPartitions("path", "time").write.mode(
        "overwrite"
    ).parquet(tmp)
    shutil.rmtree(path)
    Path(tmp).rename(path)
    shutil.rmtree(f"{store_dir}__compact_tmp", ignore_errors=True)
