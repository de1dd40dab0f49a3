"""Iceberg transactional sink (SURVEY §2.8 K6) — connector-gated.

The reference commits data files and consumer offsets in ONE Iceberg
transaction: append files + set table properties
``__consumer_offset:<group>:<topic>:<partition> = "<offset>:<wm>"``,
and recovers positions by reading those properties back
(iceberg/IcebergRecordBatchStorage.scala:26-75). With the Iceberg Spark
runtime on the classpath, the same design is:

- ``writeTo(table).append()`` inside ``foreachBatch`` (Iceberg's Spark
  sink commits the file set atomically);
- offsets mirrored into table properties via ``ALTER TABLE ... SET
  TBLPROPERTIES`` keyed by consumer group/topic/partition — Spark's
  checkpoint remains the primary ledger, the properties enable the
  reference's Kafka-free restart;
- ``committed_positions`` parses the properties back.

The Iceberg runtime is NOT present in this environment, so the sink
raises a clear error at construction unless the catalog resolves; the
property codec (pure Python) is tested regardless.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from stream_loader_spark.model.position import StreamPosition, ranges_covered_by
from stream_loader_spark.operators.recovery import batch_ranges, end_watermark_ms

PROPERTY_PREFIX = "__consumer_offset"


class _TransactionUnsupported(RuntimeError):
    """The Java Transaction path is unavailable; fall back to
    append + ALTER TABLE with the replay guard."""


def offset_property(consumer_group: str, topic: str, partition: int) -> str:
    return f"{PROPERTY_PREFIX}:{consumer_group}:{topic}:{partition}"


def encode_position(pos: StreamPosition) -> str:
    return f"{pos.offset}:{pos.watermark_ms}"


def decode_position(value: str) -> StreamPosition:
    offset, wm = value.split(":")
    return StreamPosition(int(offset), int(wm))


def positions_from_properties(
    properties: dict[str, str], consumer_group: str
) -> dict[tuple[str, int], StreamPosition]:
    """Parse committed positions out of table properties; the stored
    offset is the last committed one, so the next position is +1."""
    out: dict[tuple[str, int], StreamPosition] = {}
    prefix = f"{PROPERTY_PREFIX}:{consumer_group}:"
    for key, value in properties.items():
        if not key.startswith(prefix):
            continue
        topic, partition = key[len(prefix) :].rsplit(":", 1)
        last = decode_position(value)
        out[(topic, int(partition))] = StreamPosition(last.offset + 1, last.watermark_ms)
    return out


def sql_str_literal(value: str) -> str:
    """Single-quoted SQL string literal with embedded quotes doubled —
    topic/consumer-group names must not be able to break (or inject
    into) the TBLPROPERTIES statement."""
    return "'" + value.replace("'", "''") + "'"


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001
        return False


class IcebergOffsetsSink:
    """foreachBatch sink: append to an Iceberg table + mirror offsets
    into table properties for Kafka-free restart."""

    def __init__(self, spark: SparkSession, table: str, consumer_group: str) -> None:
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg Spark runtime not on the classpath; add "
                "org.apache.iceberg:iceberg-spark-runtime and configure a catalog"
            )
        self.spark = spark
        self.table = table
        self.consumer_group = consumer_group

    def is_batch_committed(self, ranges) -> bool:
        """A batch is committed iff every range it covers is already at or
        behind the positions recorded in the table properties — the
        reference's isBatchCommitted check (RecordBatchStorage.scala:44-64)."""
        return ranges_covered_by(ranges, self.committed_positions())

    def _offset_props(self, ranges) -> dict[str, str]:
        return {
            offset_property(self.consumer_group, r["topic"], r["partition"]): (
                f"{r['end_offset']}:{end_watermark_ms(r)}"
            )
            for r in ranges
        }

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        """Append + mirror offsets — ONE Iceberg transaction when the
        Java Transaction API path succeeds (matching the reference,
        IcebergRecordBatchStorage.scala:47-64), else append-then-ALTER
        with a replay guard.

        The fallback's only exposure is a crash exactly between append
        and property update; the replay guard (skip batches whose
        ranges are already behind the recorded positions) closes the
        restart-duplication window either way.
        """
        batch_df = batch_df.persist()
        try:
            ranges = batch_ranges(batch_df).collect()
            if self.is_batch_committed(ranges):
                return
            props = self._offset_props(ranges)
            data = batch_df.drop("topic", "partition", "offset")
            try:
                self._transactional_commit(data, props)
            except _TransactionUnsupported:
                data.writeTo(self.table).append()
                if props:
                    kvs = ", ".join(
                        f"{sql_str_literal(k)}={sql_str_literal(v)}"
                        for k, v in props.items()
                    )
                    self.spark.sql(
                        f"ALTER TABLE {self.table} SET TBLPROPERTIES ({kvs})"
                    )
        finally:
            batch_df.unpersist()

    # -- single-transaction commit (Java Transaction API) ---------------
    def _jvm(self):
        """JVM gateway accessor — a seam so the transaction path is
        testable without Iceberg classes on the local classpath."""
        return self.spark._jvm

    def _load_java_table(self):
        """Resolve the Java ``org.apache.iceberg.Table`` — the seam tests
        monkeypatch; raises _TransactionUnsupported when the runtime
        can't hand one over (e.g. a non-Iceberg-aware catalog)."""
        try:
            return self._jvm().org.apache.iceberg.spark.Spark3Util.loadIcebergTable(
                self.spark._jsparkSession, self.table
            )
        except Exception as e:  # noqa: BLE001
            raise _TransactionUnsupported(str(e)) from e

    def _transactional_commit(self, data: DataFrame, props: dict[str, str]) -> None:
        """Stage data files, then commit files + offset properties in ONE
        Iceberg transaction (reference parity:
        IcebergRecordBatchStorage.scala:47-64).

        The staged parquet files are written outside any table commit
        (invisible until the transaction lands), registered via
        ``Transaction.newAppend`` with footer-derived metrics, and the
        offset properties ride the same transaction — a crash anywhere
        before ``commitTransaction`` leaves the table untouched.

        Field-ID safety: Spark's plain parquet writer emits NO Iceberg
        field IDs, so files registered this way are readable only via a
        name mapping — without one, readers fall back to positional ID
        assignment and a reordered or schema-evolved table silently
        yields wrong/NULL columns. This path therefore (a) refuses
        partitioned tables (staged files carry no partition tuple —
        the fallback ``writeTo`` append is Iceberg-aware and handles
        them) and (b) ensures ``schema.name-mapping.default`` is set,
        deriving it from the table schema inside the SAME transaction
        when absent.
        """
        jtable = self._load_java_table()
        jvm = self._jvm()
        if not jtable.spec().isUnpartitioned():
            raise _TransactionUnsupported(
                "staged-parquet transactional append supports only unpartitioned "
                "tables (plain parquet carries no Iceberg partition tuple); "
                "using the Iceberg-aware append + replay-guarded ALTER instead"
            )
        props = dict(props)
        if not jtable.properties().containsKey("schema.name-mapping.default"):
            mapping = jvm.org.apache.iceberg.mapping.MappingUtil.create(jtable.schema())
            props["schema.name-mapping.default"] = (
                jvm.org.apache.iceberg.mapping.NameMappingParser.toJson(mapping)
            )
        staging = f"{jtable.location()}/data/_staging-{uuid.uuid4().hex}"
        data.write.mode("overwrite").parquet(staging)
        hconf = self.spark._jsc.hadoopConfiguration()
        txn = jtable.newTransaction()
        if props:
            up = txn.updateProperties()
            for k, v in props.items():
                up.set(k, v)
            up.commit()  # staged — lands with the transaction
        append = txn.newAppend()
        metrics_config = jvm.org.apache.iceberg.MetricsConfig.forTable(jtable)
        for path in self._staged_files(staging):
            infile = jvm.org.apache.iceberg.hadoop.HadoopInputFile.fromLocation(path, hconf)
            metrics = jvm.org.apache.iceberg.parquet.ParquetUtil.fileMetrics(
                infile, metrics_config
            )
            append.appendFile(
                jvm.org.apache.iceberg.DataFiles.builder(jtable.spec())
                .withInputFile(infile)
                .withMetrics(metrics)
                .withFormat(jvm.org.apache.iceberg.FileFormat.PARQUET)
                .build()
            )
        append.commit()  # staged
        txn.commitTransaction()  # the ONE atomic commit point

    def _staged_files(self, staging: str) -> list[str]:
        """Parquet part files of a staged write (local or Hadoop FS)."""
        if os.path.isdir(staging):
            return [
                os.path.join(staging, n)
                for n in sorted(os.listdir(staging))
                if n.endswith(".parquet")
            ]
        jvm = self._jvm()
        jpath = jvm.org.apache.hadoop.fs.Path(staging)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return sorted(
            f.getPath().toString()
            for f in fs.listStatus(jpath)
            if f.getPath().getName().endswith(".parquet")
        )

    def committed_positions(self) -> dict[tuple[str, int], StreamPosition]:
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {self.table}").collect()
        return positions_from_properties(
            {r["key"]: r["value"] for r in rows}, self.consumer_group
        )
