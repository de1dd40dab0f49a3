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

Here both are implemented against a file/table path with the same
deterministic-batch-directory idempotence as the manifest sink; the
``jdbc_url`` seam on each class marks where a real database target
plugs in (single transaction per batch: ``INSERT`` + offsets commit,
with the batch token as the dedup key — ClickHouse
``insert_deduplication_token``, or a unique index on
``(consumer_group, topic, partition, end_offset)``). A replayed batch
that is already committed writes nothing, but its plan still runs so
that stateful operators upstream commit their state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_loader_spark.operators.recovery import (
    committed_positions,
    committed_positions_external,
    stream_ranges,
)
from stream_loader_spark.sinks.manifest import consume_replayed_batch
from stream_loader_spark.sources.kafka_view import kafka_metadata_columns


class InRowOffsetsSink:
    """foreachBatch sink writing data + in-row offset columns.

    ``committed_positions`` recovers the next offsets straight from the
    data — no checkpoint or Kafka needed (the reference's Kafka-free
    restart mode, InDataOffsetBatchStorage.scala:21-22).
    """

    def __init__(self, table_dir: str, payload_cols: list[str] | None = None) -> None:
        self.table_dir = table_dir
        self.payload_cols = payload_cols

    def _batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.table_dir, f"batch={batch_id}")

    def is_batch_committed(self, batch_id: int) -> bool:
        return os.path.exists(os.path.join(self._batch_dir(batch_id), "_SUCCESS"))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_batch_committed(batch_id):
            consume_replayed_batch(batch_df)
            return
        cols = kafka_metadata_columns()
        payload = self.payload_cols
        if payload is None:
            payload = [c for c in batch_df.columns if c not in ("topic", "partition", "offset", "ts")]
        cols.extend(F.col(c) for c in payload)
        # deterministic per-batch dir + overwrite = idempotent replay
        batch_df.select(*cols).write.mode("overwrite").parquet(self._batch_dir(batch_id))

    def _committed_dirs(self) -> list[str]:
        """Only batch dirs whose _SUCCESS marker exists — a crashed
        partial write must stay invisible to readers and recovery."""
        if not os.path.isdir(self.table_dir):
            return []
        return [
            os.path.join(self.table_dir, d)
            for d in sorted(os.listdir(self.table_dir))
            if d.startswith("batch=")
            and os.path.exists(os.path.join(self.table_dir, d, "_SUCCESS"))
        ]

    def table(self, spark: SparkSession) -> DataFrame:
        dirs = self._committed_dirs()
        if not dirs:
            raise ValueError("no committed batches")
        return spark.read.option("basePath", self.table_dir).parquet(*dirs)

    def committed_positions(self, spark: SparkSession) -> DataFrame:
        """A1 recovery query over the data table itself."""
        return committed_positions(self.table(spark))


class ExternalOffsetsSink:
    """foreachBatch sink writing data plus a separate offsets-range table.

    Downstream consumers can join data to its source ranges via
    ``_batch_id`` (the reference's ``_file_id`` FK pattern,
    ExternalOffsetVerticaFileStorage.scala:22-44); recovery is the A3
    aggregation over the offsets table filtered by consumer group.
    """

    def __init__(self, data_dir: str, offsets_dir: str, consumer_group: str) -> None:
        self.data_dir = data_dir
        self.offsets_dir = offsets_dir
        self.consumer_group = consumer_group

    def _data_batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.data_dir, f"batch={batch_id}")

    def _offsets_batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.offsets_dir, f"batch={batch_id}")

    def is_batch_committed(self, batch_id: int) -> bool:
        # the offsets write is the commit point (data without offsets is
        # invisible to recovery and overwritten on replay)
        return os.path.exists(os.path.join(self._offsets_batch_dir(batch_id), "_SUCCESS"))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_batch_committed(batch_id):
            consume_replayed_batch(batch_df)
            return
        batch_df = batch_df.persist()
        try:
            ranges = stream_ranges(batch_df).select(
                F.lit(batch_id).alias("_batch_id"),
                F.lit(self.consumer_group).alias("_consumer_group"),
                F.col("topic").alias("_topic"),
                F.col("partition").alias("_partition"),
                F.col("start_offset").alias("_start_offset"),
                F.col("end_offset").alias("_end_offset"),
                F.col("end_watermark").alias("_end_watermark"),
            )
            batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).parquet(self._data_batch_dir(batch_id))
            # commit point: offsets table write (atomic per batch dir)
            ranges.write.mode("overwrite").parquet(self._offsets_batch_dir(batch_id))
        finally:
            # finally: a failed write must not leak the cached batch
            # across foreachBatch retries (same guard as every sibling)
            batch_df.unpersist()

    def offsets_table(self, spark: SparkSession) -> DataFrame:
        # only offsets dirs with a _SUCCESS marker: the offsets write IS
        # the commit point, so partial writes must not steer recovery
        dirs = [
            os.path.join(self.offsets_dir, d)
            for d in sorted(os.listdir(self.offsets_dir))
            if d.startswith("batch=")
            and os.path.exists(os.path.join(self.offsets_dir, d, "_SUCCESS"))
        ] if os.path.isdir(self.offsets_dir) else []
        if not dirs:
            raise ValueError("no committed offset batches")
        return spark.read.option("basePath", self.offsets_dir).parquet(*dirs)

    def committed_positions(self, spark: SparkSession) -> DataFrame:
        """A3 recovery query over the offsets table."""
        return committed_positions_external(self.offsets_table(spark), self.consumer_group)
