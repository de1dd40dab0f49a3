"""Offsets-in-target exactly-once sinks (DB-agnostic).

The reference's database sinks make replays no-ops by storing Kafka
positions in the target system itself and recovering with a MAX/GROUP
BY query:

- **In-row offsets** — every data row carries
  ``_topic/_partition/_offset/_watermark`` columns; recovery is the A1
  aggregation over the data table (ClickHouseFileStorage.scala:38-47,
  InRowOffsetVerticaFileStorage.scala:41-50).
- **External offsets table** — data and a per-batch offsets-range table
  are written in one transaction; recovery is the A3 aggregation over
  the offsets table (ExternalOffsetVerticaFileStorage.scala:46-135).

Here both are batch-directory tables (sinks/table.py): batch ``n``
writes deterministic ``batch=n`` dirs in overwrite mode, then appends
one ``CommitLog`` record with the rows each dir holds. The record is
the commit point: the replay check, ``table()``, ``data_table()`` and
``offsets_table()`` trust only the batches and generations a record
names, so a crash between the write and the record leaves invisible
files that the replay overwrites. ``compact`` folds the committed dirs
into one generation and ``vacuum`` deletes what it superseded, so the
recovery query reads a bounded number of dirs however many batches
were committed. A table in an older format (``batch=n`` dirs with no
log, or records without row counts) is refused: rebuild it. A real
database target replaces this with one transaction per batch
(``INSERT`` + offsets commit, with the batch token as the dedup key —
ClickHouse ``insert_deduplication_token``, or a unique index on
``(consumer_group, topic, partition, end_offset)``; see sinks/dbtxn.py).
A replayed batch that is already committed writes nothing, but its
plan still runs so that stateful operators upstream commit their
state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_loader_spark.operators.recovery import (
    batch_ranges,
    committed_positions,
    committed_positions_external,
)
from stream_loader_spark.sinks.table import BatchTable
from stream_loader_spark.sources.kafka_view import kafka_metadata_columns


class InRowOffsetsSink:
    """foreachBatch sink writing data + in-row offset columns.

    ``committed_positions`` recovers the next offsets straight from the
    data — no checkpoint or Kafka needed (the reference's Kafka-free
    restart mode, InDataOffsetBatchStorage.scala:21-22).
    """

    def __init__(self, table_dir: str, payload_cols: list[str] | None = None) -> None:
        self.payload_cols = payload_cols
        self.store = BatchTable(table_dir, {"data": table_dir})

    def is_batch_committed(self, batch_id: int) -> bool:
        return self.store.log.is_committed(batch_id)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.store.replayed(batch_df, batch_id):
            return
        cols = kafka_metadata_columns()
        payload = self.payload_cols
        if payload is None:
            payload = [c for c in batch_df.columns if c not in ("topic", "partition", "offset", "ts")]
        cols.extend(F.col(c) for c in payload)
        self.store.commit(batch_id, self.store.write(batch_id, {"data": batch_df.select(*cols)}))

    def table(self, spark: SparkSession) -> DataFrame:
        return self.store.read(spark, "data")

    def committed_positions(self, spark: SparkSession) -> DataFrame:
        """A1 recovery query over the data table itself."""
        return committed_positions(self.table(spark))

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """Fold the committed batches into one generation (run between
        triggers); returns the rows written."""
        return self.store.compact(spark)

    def vacuum(self) -> list[str]:
        return self.store.vacuum()


class ExternalOffsetsSink:
    """foreachBatch sink writing data plus a separate offsets-range table.

    Downstream consumers can join data to its source ranges via
    ``_batch_id`` (the reference's ``_file_id`` FK pattern,
    ExternalOffsetVerticaFileStorage.scala:22-44); recovery is the A3
    aggregation over the offsets table filtered by consumer group.
    """

    def __init__(self, data_dir: str, offsets_dir: str, consumer_group: str) -> None:
        self.consumer_group = consumer_group
        self.store = BatchTable(offsets_dir, {"data": data_dir, "offsets": offsets_dir})

    def is_batch_committed(self, batch_id: int) -> bool:
        return self.store.log.is_committed(batch_id)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.store.replayed(batch_df, batch_id):
            return
        batch_df = batch_df.persist()
        try:
            ranges = batch_ranges(batch_df).select(
                F.lit(batch_id).alias("_batch_id"),
                F.lit(self.consumer_group).alias("_consumer_group"),
                F.col("topic").alias("_topic"),
                F.col("partition").alias("_partition"),
                F.col("start_offset").alias("_start_offset"),
                F.col("end_offset").alias("_end_offset"),
                F.col("end_watermark").alias("_end_watermark"),
            )
            rows = self.store.write(
                batch_id,
                {"data": batch_df.withColumn("_batch_id", F.lit(batch_id)), "offsets": ranges},
            )
        finally:
            # finally: a failed write must not leak the cached batch
            # across foreachBatch retries (same guard as every sibling)
            batch_df.unpersist()
        self.store.commit(batch_id, rows)

    def data_table(self, spark: SparkSession) -> DataFrame:
        return self.store.read(spark, "data")

    def offsets_table(self, spark: SparkSession) -> DataFrame:
        return self.store.read(spark, "offsets")

    def committed_positions(self, spark: SparkSession) -> DataFrame:
        """A3 recovery query over the offsets table."""
        return committed_positions_external(self.offsets_table(spark), self.consumer_group)

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """Fold the committed batches of both tables into one generation
        each (run between triggers); returns the rows written."""
        return self.store.compact(spark)

    def vacuum(self) -> list[str]:
        return self.store.vacuum()
