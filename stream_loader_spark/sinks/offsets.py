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

Here both are implemented against a file/table path with the manifest
sink's commit (sinks/manifest.py): batch ``n`` writes deterministic
``batch=n`` dirs in overwrite mode, then appends one ``CommitLog``
record ``{"batch_id": n}``. The record is the commit point: the replay
check, ``table()`` and ``offsets_table()`` trust only the batches a
record names, so a crash between the write and the record leaves
invisible files that the replay overwrites. A table in the older
format (``batch=n`` dirs committed by Hadoop success-marker files, no
log) is refused at construction: rebuild it. A real database target replaces this with
one transaction per batch (``INSERT`` + offsets commit, with the batch
token as the dedup key — ClickHouse ``insert_deduplication_token``, or
a unique index on ``(consumer_group, topic, partition, end_offset)``;
see sinks/dbtxn.py). A replayed batch that is already committed writes
nothing, but its plan still runs so that stateful operators upstream
commit their state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_loader_spark.operators.recovery import (
    batch_ranges,
    committed_positions,
    committed_positions_external,
)
from stream_loader_spark.sinks.manifest import CommitLog, consume_replayed_batch
from stream_loader_spark.sources.kafka_view import kafka_metadata_columns


def _open_log(log_root: str, *data_roots: str) -> CommitLog:
    """The commit log at ``<log_root>/_manifest``. Refuses ``log_root``
    or ``data_roots`` holding ``batch=<n>`` dirs while the log does not
    exist: those batches were committed by success-marker files, and
    readers that trust only records would silently drop them."""
    path = os.path.join(log_root, "_manifest")
    if not os.path.isdir(path):
        for root in (log_root, *data_roots):
            if os.path.isdir(root) and any(e.startswith("batch=") for e in os.listdir(root)):
                raise ValueError(
                    f"{root!r} holds batch dirs but no commit log at {path!r}: "
                    "it predates commit records; rebuild the table"
                )
    return CommitLog(path)


def _committed_table(spark: SparkSession, root: str, dirs: list[str]) -> DataFrame:
    """The committed batches' ``dirs``, read as one table under ``root``
    (``basePath`` keeps each dir's ``batch`` column)."""
    if not dirs:
        raise ValueError(f"no committed batches under {root}")
    return spark.read.option("basePath", root).parquet(*dirs)


class InRowOffsetsSink:
    """foreachBatch sink writing data + in-row offset columns.

    ``committed_positions`` recovers the next offsets straight from the
    data — no checkpoint or Kafka needed (the reference's Kafka-free
    restart mode, InDataOffsetBatchStorage.scala:21-22).
    """

    def __init__(self, table_dir: str, payload_cols: list[str] | None = None) -> None:
        self.table_dir = table_dir
        self.payload_cols = payload_cols
        self.log = _open_log(table_dir)

    def _batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.table_dir, f"batch={batch_id}")

    def is_batch_committed(self, batch_id: int) -> bool:
        return self.log.is_committed(batch_id)

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
        data_dir = self._batch_dir(batch_id)
        batch_df.select(*cols).write.mode("overwrite").parquet(data_dir)
        self.log.append(batch_id, {"batch_id": batch_id})

    def table(self, spark: SparkSession) -> DataFrame:
        dirs = [self._batch_dir(rec["batch_id"]) for rec in self.log.live()]
        return _committed_table(spark, self.table_dir, dirs)

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
        self.log = _open_log(offsets_dir, data_dir)

    def _data_batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.data_dir, f"batch={batch_id}")

    def _offsets_batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.offsets_dir, f"batch={batch_id}")

    def is_batch_committed(self, batch_id: int) -> bool:
        return self.log.is_committed(batch_id)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_batch_committed(batch_id):
            consume_replayed_batch(batch_df)
            return
        data_dir = self._data_batch_dir(batch_id)
        offsets_dir = self._offsets_batch_dir(batch_id)
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
            batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).parquet(data_dir)
            ranges.write.mode("overwrite").parquet(offsets_dir)
        finally:
            # finally: a failed write must not leak the cached batch
            # across foreachBatch retries (same guard as every sibling)
            batch_df.unpersist()
        self.log.append(batch_id, {"batch_id": batch_id})

    def offsets_table(self, spark: SparkSession) -> DataFrame:
        dirs = [self._offsets_batch_dir(rec["batch_id"]) for rec in self.log.live()]
        return _committed_table(spark, self.offsets_dir, dirs)

    def committed_positions(self, spark: SparkSession) -> DataFrame:
        """A3 recovery query over the offsets table."""
        return committed_positions_external(self.offsets_table(spark), self.consumer_group)
