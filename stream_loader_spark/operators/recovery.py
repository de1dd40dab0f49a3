"""Offset-recovery aggregations (SURVEY §2.4 A1-A5).

These are the relational queries the reference issues to recover
committed positions from storage after a restart without Kafka's help:

- A1/A2: ``SELECT topic, partition, MAX(offset)+1, MAX(watermark) FROM
  data GROUP BY topic, partition`` over in-row offset columns
  (reference clickhouse/ClickHouseFileStorage.scala:38-47,
  vertica/InRowOffsetVerticaFileStorage.scala:41-50).
- A3: same shape over an external offsets table filtered by consumer
  group (vertica/ExternalOffsetVerticaFileStorage.scala:62-66).
- A4: per-partition stream-range aggregation: first/last offset with
  running max watermark (model/StreamRange.scala:61-81).
- A5: merge of consecutive ranges — earliest start, latest end
  (model/StreamRange.scala:26-51).

All are single hash-aggregations: Spark executes them with map-side
partial aggregation, so the shuffle carries only one row per (topic,
partition) per map task — they scale to arbitrarily large tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def committed_positions(
    data: DataFrame,
    topic_col: str = "_topic",
    partition_col: str = "_partition",
    offset_col: str = "_offset",
    watermark_col: str = "_watermark",
) -> DataFrame:
    """A1/A2: next position to consume per (topic, partition).

    Filters NULL topic/partition first (rows not written by the loader),
    then takes ``MAX(offset)+1`` and ``MAX(watermark)``.
    """
    return (
        data.where(F.col(topic_col).isNotNull() & F.col(partition_col).isNotNull())
        .groupBy(F.col(topic_col).alias("topic"), F.col(partition_col).alias("partition"))
        .agg(
            (F.max(offset_col) + F.lit(1)).alias("next_offset"),
            F.max(watermark_col).alias("watermark"),
        )
    )


def committed_positions_external(
    offsets: DataFrame,
    consumer_group: str,
    group_col: str = "_consumer_group",
    topic_col: str = "_topic",
    partition_col: str = "_partition",
    end_offset_col: str = "_end_offset",
    end_watermark_col: str = "_end_watermark",
) -> DataFrame:
    """A3: next position per (topic, partition) from an offsets table."""
    return (
        offsets.where(F.col(group_col) == consumer_group)
        .groupBy(F.col(topic_col).alias("topic"), F.col(partition_col).alias("partition"))
        .agg(
            (F.max(end_offset_col) + F.lit(1)).alias("next_offset"),
            F.max(end_watermark_col).alias("watermark"),
        )
    )


def stream_ranges(
    records: DataFrame,
    topic_col: str = "topic",
    partition_col: str = "partition",
    offset_col: str = "offset",
    ts_col: str = "ts",
) -> DataFrame:
    """A4: the range of offsets a record set covers per partition."""
    return records.groupBy(topic_col, partition_col).agg(
        F.min(offset_col).alias("start_offset"),
        F.max(offset_col).alias("end_offset"),
        F.max(ts_col).alias("end_watermark"),
        F.count(F.lit(1)).alias("record_count"),
    )


def batch_ranges(
    batch: DataFrame,
    topic_col: str = "topic",
    partition_col: str = "partition",
    offset_col: str = "offset",
    ts_col: str = "ts",
) -> DataFrame:
    """A4 over one micro-batch, as every offsets-tracking sink collects
    it: the final aggregate runs in ONE task. Its result is one row per
    (topic, partition), so spreading it over the shuffle partitions
    only adds per-task cost to every commit. ``record_count`` sums to
    the batch's row count."""
    return stream_ranges(batch, topic_col, partition_col, offset_col, ts_col).coalesce(1)


def end_watermark_ms(row) -> int:
    """A ``stream_ranges`` row's end watermark in epoch milliseconds. A
    partition whose every record has a NULL ts gets 0, so a poison
    batch still commits instead of crash-looping the query."""
    wm = row["end_watermark"]
    return int(wm.timestamp() * 1000) if wm is not None else 0


def merge_range_table(
    ranges: DataFrame,
    topic_col: str = "topic",
    partition_col: str = "partition",
    start_col: str = "start_offset",
    end_col: str = "end_offset",
    watermark_col: str = "end_watermark",
) -> DataFrame:
    """A5 (aggregate form): collapse all ranges of a partition into one —
    earliest start, latest end, max watermark."""
    return ranges.groupBy(topic_col, partition_col).agg(
        F.min(start_col).alias("start_offset"),
        F.max(end_col).alias("end_offset"),
        F.max(watermark_col).alias("end_watermark"),
    )
