"""Projection / row-transformation operators (SURVEY §2.2).

- P3 metadata projection: expose stream metadata as output columns
  (reference loaders/S3.scala:51-57, loaders/ClickHouse.scala:77-97).
- P4 record partitioning: assign each record a time-derived output
  partition (reference sink/batch/RecordPartitioner.scala:19-29; the
  canonical implementation maps the Kafka timestamp to a LocalDate,
  loaders/S3.scala:73). In Spark this is ``to_date`` + ``partitionBy`` —
  Hive-style paths then give partition pruning on read for free.
- P1 record formatting (1 raw record → 0..N typed rows) is
  ``from_json``/``from_avro``/``from_protobuf`` — see
  ``formatted_records``. Every formatter emits the FORMATTED record, as
  the reference's ``RecordFormatter`` hands its ``FileBuilder`` only the
  typed record (sink/batch/RecordFormatter.scala:18-24): the input's
  columns followed by the typed columns, with the raw payload column
  kept in the schema but holding a value only on rows that did not
  parse (a built-in dead letter). Rows that parsed, and rows whose
  payload was NULL, hold NULL there, so a sink stores each payload once
  and fields outside the declared schema are not stored.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stream_loader_spark.sources.kafka_view import kafka_metadata_columns


def with_metadata_projection(records: DataFrame, *payload_cols: str) -> DataFrame:
    """P3: _topic/_partition/_offset/_watermark + payload columns."""
    cols = kafka_metadata_columns()
    cols.extend(F.col(c) for c in payload_cols)
    return records.select(*cols)


def with_date_partition(
    records: DataFrame, ts_col: str = "ts", partition_col: str = "dt"
) -> DataFrame:
    """P4: event-date output-partition column (tumbling 1-day buckets)."""
    return records.withColumn(partition_col, F.to_date(F.col(ts_col)))


_PARSED = "_parsed"
_CORRUPT = "_corrupt_record"


def format_payload(
    records: DataFrame,
    parsed: Column,
    value_col: str,
    failed: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """The one output shape of the P1 formatters: ``records`` followed by
    the fields of ``parsed`` (a struct Column over the payload), with
    ``value_col`` NULL except on rows where ``failed`` holds.

    ``failed`` maps the parsed struct Column to a boolean Column; by
    default a NULL struct over a non-NULL payload, which is how a
    PERMISSIVE binary decoder reports a payload it could not read."""
    struct = F.col(_PARSED)
    bad = failed(struct) if failed else struct.isNull() & F.col(value_col).isNotNull()
    return (
        records.withColumn(_PARSED, parsed)
        .withColumn(value_col, F.when(bad, F.col(value_col)))
        .select("*", f"{_PARSED}.*")
        .drop(_PARSED)
    )


def formatted_records(records: DataFrame, schema: str, value_col: str = "props") -> DataFrame:
    """P1: parse the payload into typed columns (JSON flavor).

    ``schema`` is a DDL string, e.g. ``"k INT"``. A payload that does
    not parse (malformed JSON, or a value whose type does not match its
    field) yields NULL for the fields it could not fill (permissive
    mode) and keeps its raw text in ``value_col``; the detector is the
    engine's ``columnNameOfCorruptRecord`` channel, which captures the
    raw text of exactly the rows Jackson rejected. Every other row
    holds NULL in ``value_col``, a blank payload included (it parses to
    no record)."""
    parsed = F.from_json(
        F.col(value_col), f"{schema}, {_CORRUPT} STRING", {"columnNameOfCorruptRecord": _CORRUPT}
    )
    return format_payload(
        records, parsed, value_col, lambda p: p[_CORRUPT].isNotNull()
    ).drop(_CORRUPT)


# -- binary record formats (P2 / E4 / E5) ----------------------------------
#
# The reference's canonical formatters parse Avro and Protobuf payloads
# (hadoop/parquet/AvroParquetFileBuilder.scala:30-86,
# ProtoParquetFileBuilder.scala:23-54; the Iceberg test loader decodes
# Avro records, stream-loader-tests/.../loaders/Iceberg.scala:44-60).
# Spark ships the expression wrappers in-core, but the implementation
# jars (spark-avro, spark-protobuf) are EXTERNAL packages — absent in
# this environment — so each formatter probes for its jar and raises a
# clear error naming the missing package; golden tests skip on absence.


def avro_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.avro.AvroDataToCatalyst"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def protobuf_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.protobuf.ProtobufDataToCatalyst"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def avro_formatted_records(
    records: DataFrame,
    avro_schema_json: str,
    value_col: str = "value",
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """P2/E4: parse binary Avro payloads into typed columns.

    ``mode='PERMISSIVE'`` nulls out a corrupt payload's fields and keeps
    its bytes in ``value_col`` (NULL on every row that parsed);
    ``'FAILFAST'`` surfaces it as a task error.
    """
    if not avro_available(records.sparkSession):
        raise RuntimeError(
            "Avro formatting requires the spark-avro package "
            "(org.apache.spark:spark-avro_2.13) on the classpath"
        )
    from pyspark.sql.avro.functions import from_avro

    parsed = from_avro(F.col(value_col), avro_schema_json, {"mode": mode})
    return format_payload(records, parsed, value_col)


def protobuf_formatted_records(
    records: DataFrame,
    message_name: str,
    descriptor_file: str | None = None,
    value_col: str = "value",
) -> DataFrame:
    """E5: parse binary Protobuf payloads into typed columns, from a
    compiled descriptor-set file (protoc --descriptor_set_out). The
    decoder is FAILFAST, so a corrupt payload fails its task and
    ``value_col`` is NULL on every row."""
    if not protobuf_available(records.sparkSession):
        raise RuntimeError(
            "Protobuf formatting requires the spark-protobuf package "
            "(org.apache.spark:spark-protobuf_2.13) on the classpath"
        )
    from pyspark.sql.protobuf.functions import from_protobuf

    parsed = from_protobuf(F.col(value_col), message_name, descFilePath=descriptor_file)
    return format_payload(records, parsed, value_col)


def formatted_records_split(
    records: DataFrame,
    schema: str,
    value_col: str = "props",
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """P1 with a dead-letter path: (good, quarantined) DataFrames.

    Both are filters over ``formatted_records``: ``good`` is the rows
    whose payload is NULL after formatting (rows that parsed, and rows
    whose payload was NULL: absence is not corruption), with the typed
    columns; ``quarantined`` is the rows that kept their payload, in
    the original record shape, for a replayable dead-letter sink.
    Neither side adds a shuffle, but they are two separate ACTIONS when
    written to two sinks, so a ``foreachBatch`` router should
    ``persist()`` the micro-batch first to pay the source scan once (see
    tests/test_streaming_sinks.py::TestQuarantineRouting). Batch
    callers that consume BOTH sides inside one job can pass
    ``materialize=True`` instead: the formatted frame is checkpointed
    so the scan and the JSON parse run once rather than once per side.
    """
    formatted = formatted_records(records, schema, value_col)
    if materialize:
        formatted = formatted.localCheckpoint(eager=False)
    kept = F.col(value_col).isNotNull()
    return formatted.where(~kept), formatted.where(kept).select(*records.columns)


_UDTF_SEQ = iter(range(1_000_000))


def formatted_records_udtf(records: DataFrame, formatter_udtf, props_col: str = "props") -> DataFrame:
    """The FULL user-extension form of the record formatter: arbitrary
    Python logic turns one raw record into zero or more typed rows,
    joined back to the record's stream metadata — the 1→0..N contract
    of the reference's RecordFormatter interface
    (sink/batch/RecordFormatter.scala:18-24, cited for parity).

    ``formatter_udtf`` is a ``@udtf(returnType=...)`` class whose
    ``eval(payload)`` yields output tuples; yielding nothing drops the
    record (the formatter-level dead-letter gesture). The plan is a
    LATERAL table-function join, so Catalyst still prunes and pushes
    around it.

    This is deliberately the SLOW PATH: JSON payloads should use
    ``formatted_records`` (JVM ``from_json``), Avro the codec path —
    a Python UDTF is for formats those can't express. Declare the
    UDTF with ``useArrow=True`` where the payload shapes allow it to
    cut the per-row pickling cost.
    """
    spark = records.sparkSession
    seq = next(_UDTF_SEQ)
    fn_name = f"sl_record_formatter_{seq}"
    view = f"sl_formatter_input_{seq}"
    spark.udtf.register(fn_name, formatter_udtf)
    records.createOrReplaceTempView(view)
    meta = ", ".join(f"r.{c}" for c in records.columns if c != props_col)
    return spark.sql(
        f"SELECT {meta}, f.* FROM {view} r, LATERAL {fn_name}(r.{props_col}) f"
    )
