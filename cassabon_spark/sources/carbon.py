"""Carbon plaintext line-protocol parsing (operator A3 in SURVEY §2).

Reference semantics (listener/carbon_plaintext.go:208-255):
  - split the line on whitespace runs (Go strings.Fields — so tabs and space
    runs are tolerated and leading/trailing whitespace ignored)
  - exactly 3 fields required: path, value, timestamp
  - value and timestamp parsed as float64 (strconv.ParseFloat(_, 64)) —
    scientific notation accepted; anything unparseable drops the line
  - peer-control lines `<<...>>` are control traffic, not metrics
    (carbon_plaintext.go:211-214) — dropped here (cluster membership is
    Spark's job, SURVEY A22)
  - malformed lines are dropped and counted

Spark-first: the whole parse is built-in expressions (split/cast/filter), so
it runs inside whole-stage codegen with no Python in the hot path. Bad-record
counting uses `observe()` so it costs nothing extra at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Go's strconv.ParseFloat accepts decimal and scientific notation, inf/nan.
# Spark's cast(string as double) accepts the same surface (plus it trims);
# cast returns NULL on junk, which is our drop signal.


def parse_carbon_lines(lines: DataFrame, line_col: str = "line", observe: bool = False):
    """lines(line STRING) -> metrics(path STRING, value DOUBLE, ts DOUBLE).

    `ts` is kept as float epoch-seconds exactly like the reference
    (CarbonMetric.Timestamp float64, config/globals.go:13-17); callers needing
    a TIMESTAMP column use `F.timestamp_seconds`.

    Returns (df, observation|None); with observe=True, observation["ok"] and
    observation["malformed"] count the kept and the dropped lines.
    """
    raw = lines.select(F.col(line_col).alias("line"))
    parts = F.split(F.trim(F.col("line")), r"\s+")
    parsed = (
        raw.filter(~F.col("line").rlike(r"^\s*<<.*>>\s*$"))  # peer-control lines
        .withColumn("_parts", parts)
        .withColumn("path", F.try_element_at("_parts", F.lit(1)))
        .withColumn("value", F.try_element_at("_parts", F.lit(2)).try_cast("double"))
        .withColumn("ts", F.try_element_at("_parts", F.lit(3)).try_cast("double"))
    )
    ok = (
        (F.size("_parts") == 3)
        & F.col("path").isNotNull()
        & (F.length("path") > 0)
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    obs = None
    if observe:
        obs = Observation("carbon_parse")
        parsed = parsed.observe(
            obs,
            F.count(F.lit(1)).alias("total"),
            F.count_if(ok).alias("ok"),
            F.count_if(~ok).alias("malformed"),
        )
    metrics = parsed.filter(ok).select("path", "value", "ts")
    return metrics, obs

