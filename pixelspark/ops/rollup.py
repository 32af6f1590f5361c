"""Continuous-aggregate rollup (hypertable-style): maintain a
pre-aggregated per-(shop, day) table incrementally as event batches
arrive, touching ONLY the day-partitions the batch affects.

The reference recomputes its daily aggregate from the raw events table
on every run (src/services/bigquery.ts:41-56 — a full-table GROUP BY
behind a date filter).  That is fine when BigQuery prunes to one day,
but a 100 TB events table with late-arriving data wants the TimescaleDB
/ Materialize "continuous aggregate" shape instead:

  * the rollup table is PARTITIONED BY day — the unit of refresh;
  * every counter is algebraic and EXACT (count -> sum, sum -> sum
    over DECIMAL, min -> min, max -> max), so merging a delta into an
    existing partial is associative and order-insensitive — a refresh
    never needs the raw history, only the old partial and the delta;
  * a refresh rewrites only the partitions present in the delta
    (partition-overwrite); untouched days are never read or written.
    At sf=100TB with a daily batch this is O(delta), not O(table).

Non-additive stats (avg) are derived at read time from the exact
counters.  This module holds the two mergeable-partial functions; the
rollup table itself is a snapshot-commit table
(`pixelspark.table.refresh_rollup_snapshot` /
`read_rollup_snapshot`), whose partition replacement is one
manifest-edit `replaceWhere`, atomic on every substrate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Exact decimal type for additive value sums: double inputs are cast
# once at ingest; every later merge is decimal+decimal (associative,
# engine-portable — no float accumulation-order sensitivity).
_SUM_T = "decimal(28,6)"


def day_rollup(events: DataFrame) -> DataFrame:
    """Partial aggregate of one event batch: per (shop, day) exact
    counters.  This is the map-side shape of the reference's daily
    GROUP BY (bigquery.ts:41-56) with the counters made mergeable."""
    return (
        events.select(
            F.col("user_id").alias("shop"),
            F.to_date("ts").alias("day"),
            F.col("value").cast(_SUM_T).alias("v"),
        )
        .groupBy("shop", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").cast(_SUM_T).alias("sum_value"),
            F.min("v").cast(_SUM_T).alias("min_value"),
            F.max("v").cast(_SUM_T).alias("max_value"),
        )
    )


def merge_rollups(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Additive merge of two partials over the same key space.  Union
    then re-aggregate: Spark plans this as a map-side partial combine
    followed by one shuffle on (shop, day) — the same cost as
    aggregating the delta alone when the existing side is one
    already-compacted row per key."""
    both = existing.select(
        "shop", "day", "n_events", "sum_value", "min_value", "max_value"
    ).unionByName(
        delta.select("shop", "day", "n_events", "sum_value", "min_value", "max_value")
    )
    return both.groupBy("shop", "day").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").cast(_SUM_T).alias("sum_value"),
        F.min("min_value").cast(_SUM_T).alias("min_value"),
        F.max("max_value").cast(_SUM_T).alias("max_value"),
    )
