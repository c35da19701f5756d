"""Graphite events store: timestamped annotations (deploys, incidents)
queried alongside metrics — graphite-web's /events/ API and the `events()`
render function. The reference (cassabon) has no events concept; this is
graphite-web parity surface (graphite-web webapp/graphite/events/), built
as a small parquet table the render path counts into buckets.

Scale note: events are API-written annotations (human/deploy scale, not
metric scale) — the store is a small appended parquet directory; the
render-time bucket count is one filter + groupBy over it, broadcast-sized
next to any metric scan.
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cassabon_spark.session import empty_frame

EVENTS_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("when_s", LongType()),
        StructField("what", StringType()),
        StructField("tags", ArrayType(StringType())),
        StructField("data", StringType()),
    ]
)

_SEQ = [0]  # per-process tiebreaker for same-microsecond ids


def append_events(spark: SparkSession, events_dir: str, rows: list[dict]) -> list[dict]:
    """Append events; each row {what, tags?: list|str, when_s?: int,
    data?: str}. Ids are microsecond-epoch based (unique, monotonic within
    a process — events are API-scale, not data-scale). Returns the stored
    records."""
    now = int(time.time())
    stored = []
    for r in rows:
        if not r.get("what"):
            raise ValueError("event needs a 'what'")
        tags = r.get("tags") or []
        if isinstance(tags, str):
            tags = [t for t in tags.split() if t]
        _SEQ[0] += 1
        stored.append(
            {
                "id": int(time.time() * 1e6) * 100 + (_SEQ[0] % 100),
                "when_s": int(r.get("when_s") or now),
                "what": str(r["what"]),
                "tags": [str(t) for t in tags],
                "data": str(r.get("data") or ""),
            }
        )
    spark.createDataFrame(stored, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    return stored


def events_df(spark: SparkSession, events_dir: str) -> DataFrame:
    if not Path(events_dir).exists():
        return empty_frame(spark, EVENTS_SCHEMA)
    return spark.read.parquet(events_dir)


def find_events(
    spark: SparkSession,
    events_dir: str,
    from_s: int | None = None,
    to_s: int | None = None,
    tags: list[str] | None = None,
) -> DataFrame:
    """Events in [from_s, to_s] carrying ALL the requested tags (graphite
    tag filtering is a set-contains match; no tags means every event)."""
    df = events_df(spark, events_dir)
    if from_s is not None:
        df = df.filter(F.col("when_s") >= int(from_s))
    if to_s is not None:
        df = df.filter(F.col("when_s") <= int(to_s))
    for t in tags or []:
        df = df.filter(F.array_contains("tags", t))
    return df


def events_count_grid(
    spark: SparkSession,
    events_dir: str,
    from_s: int,
    to_s: int,
    step: int,
    tags: list[str] | None = None,
) -> DataFrame:
    """The events() render function: per step bucket, the number of
    matching events — a (path, slot_s, stat) grid over the full render
    spine with zero-filled empty buckets (nonzero slots are what
    drawAsInfinite(events(...)) draws). Buckets are from-aligned like
    graphite's value arrays."""
    step = max(int(step), 1)
    name = f"events({', '.join(tags or [])})" if tags else "events()"
    spine = spark.range(int(from_s), int(to_s) + 1, step, 1).select(
        F.col("id").cast("bigint").alias("slot_s")
    )
    ev = find_events(spark, events_dir, from_s, to_s, tags)
    counts = (
        ev.withColumn(
            "slot_s",
            (
                F.lit(int(from_s))
                + F.floor((F.col("when_s") - int(from_s)) / step) * step
            ).cast("bigint"),
        )
        .groupBy("slot_s")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    return (
        spine.join(counts, "slot_s", "left")
        .select(
            F.lit(name).alias("path"),
            "slot_s",
            F.coalesce(F.col("n"), F.lit(0.0)).alias("stat"),
        )
    )
