"""SparkSession construction with engine defaults.

Tuned for correctness-vs-DuckDB (UTC session timezone, ANSI mode pinned
ON — query authors must use try_cast/when guards for null-on-error
semantics) and for scale-minded defaults (AQE on, shuffle partitions
sized to cores rather than the 200 default). On a real cluster the same
builder is used with ``master`` unset (inherited from spark-submit).

Parquet defaults, for every writer in the session (sink data, upsert
deltas and bases, batch-table state, materialized views):

- zstd, ``functions.parquet_config.ParquetConfig``'s default codec,
  rather than Spark's snappy default, for every writer that does not
  pick its own;
- timestamps as INT64 ``TIMESTAMP(MICROS)`` rather than Spark's legacy
  INT96, as the reference's Avro/Proto parquet builders write them.
  INT64 is smaller and carries footer min/max statistics (INT96 carries
  none), so a ``ts`` predicate on sink output can skip row groups. This
  is a session setting, not a ``ParquetConfig`` field: Spark's parquet
  writer reads ``outputTimestampType`` from the session's SQL conf and
  ignores a per-write option. Readers read both encodings, so files of
  either kind mix in one table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stream_loader_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # In local mode every executor thread shares the DRIVER heap, and
    # the JVM default is 1g — 32 threads' worth of hash aggregates,
    # window buffers, and broadcasts in 1 GiB means constant GC stalls
    # and spills on a 128 GiB machine. Size the heap like the executor
    # it actually is (overridable; no-op when a deployment's
    # spark-submit already set it, since the JVM is up by then).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce to the advisory partition size rather than padding
        # out to default parallelism: tiny reduce stages collapse to a
        # task or two (less scheduling overhead), while large shuffles
        # still fan out to size/advisory partitions — the efficient
        # setting at any scale, per the AQE docs
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate turns every explode(<expr>) into a
        # pushed-down `size(<expr>) > 0` filter. For this engine's
        # generators the input is always an interpreted higher-order
        # expression (shingle windows, band structs), so the inferred
        # filter re-evaluates the FULL pipeline per row — and predicate
        # pushdown carries it through the hoisted-alias projections and
        # the scatter repartition onto the raw single-split scan, where
        # it runs single-threaded (measured 4× on the minhash pipeline).
        # explode already drops empty/null inputs, so the filter buys
        # correctness nothing; excluded engine-wide.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # pinned explicitly: the engine's cast/overflow contract (e.g.
        # checked_decimal's 'error' policy) assumes ANSI semantics and
        # must not drift with a deployment's spark-defaults
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # ParquetConfig's default codec and INT64 timestamps (see the
        # module docstring)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # the events fixture stores TIMESTAMP(NANOS); Spark reads those as
        # raw longs and sources/kafka_view converts to micros explicitly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # tz-less parquet timestamps read as TIMESTAMP (not NTZ) so
        # unix_millis/session_window/watermarks accept them; under the UTC
        # session timezone the values are identical either way
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # and the bare "timestamp" keyword must mean LTZ, so defensive
        # cast("timestamp") calls in query code can't silently no-op
        .config("spark.sql.timestampType", "TIMESTAMP_LTZ")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
