"""Unit tests for constrained encoding (the reference's golden-bytes
encoder tests, ByteWriterTest-style), retry policy, and rewind warm-up."""

import pytest
from pyspark.sql import functions as F

from stream_loader_spark.functions.encoding import (
    truncate_utf8,
    fixed_utf8,
    checked_decimal,
    RecordEncoder,
    ColumnSpec,
    csv_line,
    csv_writer_options,
)
from stream_loader_spark.functions.retry import RetryPolicy
from stream_loader_spark.model.position import StreamPosition
from stream_loader_spark.model.interval import OffsetRange, WatermarkRange
from stream_loader_spark.streaming.rewind import RewindingSink, rewound_starting_offsets


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


class TestTruncateUtf8:
    @pytest.mark.parametrize(
        "text,max_bytes,expected",
        [
            ("hello", 10, "hello"),  # fits
            ("hello", 3, "hel"),  # ascii cut
            ("héllo", 2, "h"),  # é is 2 bytes: cutting at 2 would split it
            ("héllo", 3, "hé"),  # exactly fits h(1)+é(2)
            ("日本語", 3, "日"),  # 3-byte chars
            ("日本語", 5, "日"),  # 5 bytes can't fit two 3-byte chars
            ("日本語", 6, "日本"),
            ("", 5, ""),
        ],
    )
    def test_char_boundary_truncation(self, spark, text, max_bytes, expected):
        got = one(spark, truncate_utf8(F.lit(text), max_bytes))
        assert got == expected
        assert len(got.encode("utf-8")) <= max_bytes

    def test_fixed_pads_to_byte_length(self, spark):
        got = one(spark, fixed_utf8(F.lit("ab"), 5))
        assert got == "ab   "
        got = one(spark, fixed_utf8(F.lit("日本語"), 7))
        assert len(got.encode("utf-8")) == 7  # 6 bytes + 1 pad


class TestCheckedDecimal:
    def test_in_range(self, spark):
        from decimal import Decimal

        assert one(spark, checked_decimal(F.lit(12.345), 6, 2)) == Decimal("12.35")

    def test_overflow_null(self, spark):
        assert one(spark, checked_decimal(F.lit(12345.0), 4, 2, "null")) is None

    def test_overflow_error(self, spark):
        with pytest.raises(Exception):
            one(spark, checked_decimal(F.lit(12345.0), 4, 2, "error"))


class TestRecordEncoder:
    def test_projection_with_constraints(self, spark):
        df = spark.createDataFrame(
            [(1, "a very long customer name", 123.456)], "id long, name string, bal double"
        )
        enc = RecordEncoder(
            ColumnSpec("id"),
            ColumnSpec("name8", source="name", max_bytes=8),
            ColumnSpec("bal2", source="bal", decimal=(10, 2)),
        )
        row = enc.apply(df).collect()[0]
        assert row["name8"] == "a very l"
        assert str(row["bal2"]) == "123.46"

    def test_csv_line_null_handling(self, spark):
        line = one(
            spark, csv_line(F.lit("x"), F.lit(None).cast("string"), F.lit(3), sep="\t")
        )
        assert line == "x\t\t3"
        assert csv_writer_options()["sep"] == "\t"


class TestRetryPolicy:
    def test_succeeds_after_failures(self):
        calls = []

        def flaky():
            calls.append(1)
            if len(calls) < 3:
                raise IOError("transient")
            return "ok"

        slept = []
        assert RetryPolicy(retries=5, initial_delay_sec=1).run(flaky, sleep=slept.append) == "ok"
        assert len(calls) == 3
        assert slept == [1.0, 3.0]  # exponential backoff ×3

    def test_exhausts_and_raises_last(self):
        def always():
            raise ValueError("nope")

        with pytest.raises(ValueError):
            RetryPolicy(retries=2, initial_delay_sec=0).run(always, sleep=lambda _: None)


class TestRewind:
    def test_rewound_starting_offsets(self):
        committed = {("t", 0): StreamPosition(100, 5_000_000), ("t", 1): StreamPosition(3, 0)}
        assert rewound_starting_offsets(committed, OffsetRange(10)) == {
            "t": {"0": 90, "1": 0}
        }
        assert rewound_starting_offsets(committed, WatermarkRange(1_000_000)) == {
            "t": {"0": 4_000_000, "1": 0}
        }

    def test_uncommitted_partitions_filled_to_cover_subscription(self):
        """Spark's Kafka source requires a specific-offsets map to cover
        EVERY TopicPartition — partitions with no committed position
        (added since the last commit, or never produced) get the
        'earliest' filler instead of failing the stream at start."""
        committed = {("t", 0): StreamPosition(100, 5_000_000)}
        assert rewound_starting_offsets(
            committed, OffsetRange(10), all_partitions={"t": 3}
        ) == {"t": {"0": 90, "1": -2, "2": -2}}
        # timestamp form: 0 resolves to earliest via offsetsForTimes
        assert rewound_starting_offsets(
            committed, WatermarkRange(1_000_000), all_partitions={"t": 2, "u": 1}
        ) == {"t": {"0": 4_000_000, "1": 0}, "u": {"0": 0}}

    def test_rewinding_sink_splits_replayed_from_new(self, spark):
        batch = spark.createDataFrame(
            [("t", 0, i, float(i)) for i in range(10)] + [("t", 1, i, float(i)) for i in range(5)],
            "topic string, partition int, offset bigint, value double",
        )
        committed = {("t", 0): StreamPosition(5, 0)}  # next offset 5 for p0
        written, warmed = [], []
        sink = RewindingSink(
            inner=lambda df, bid: written.extend(
                (r["topic"], r["partition"], r["offset"]) for r in df.collect()
            ),
            committed=committed,
            warmup=lambda df: warmed.extend(
                (r["topic"], r["partition"], r["offset"]) for r in df.collect()
            ),
        )
        sink(batch, 0)
        # p0 offsets 0..4 are replays → warm-up only; 5..9 and all p1 write
        assert sorted(warmed) == [("t", 0, i) for i in range(5)]
        assert sorted(written) == [("t", 0, i) for i in range(5, 10)] + [
            ("t", 1, i) for i in range(5)
        ]


class TestMetricsListener:
    def test_listener_collects_progress(self, spark, tmp_path):
        from stream_loader_spark.streaming.metrics import MetricsListener
        from stream_loader_spark.streaming.pipeline import StreamPipeline
        from stream_loader_spark.sinks.manifest import ManifestFileSink

        src = str(tmp_path / "src")
        spark.range(100).select(
            F.lit("t").alias("topic"),
            F.lit(0).cast("int").alias("partition"),
            F.col("id").alias("offset"),
            F.current_timestamp().alias("ts"),
        ).coalesce(1).write.parquet(src)

        listener = MetricsListener()
        spark.streams.addListener(listener)
        try:
            sink = ManifestFileSink(str(tmp_path / "out"))
            (
                StreamPipeline(spark)
                .from_file_stream(src, "topic string, partition int, offset bigint, ts timestamp")
                .sink(sink, str(tmp_path / "cp"))
                .run_available()
            )
            # listener callbacks are async; progress should arrive quickly
            import time

            for _ in range(50):
                if listener.registry.snapshot().get("stream.records", 0) >= 100:
                    break
                time.sleep(0.2)
            snap = listener.registry.snapshot()
            assert snap["stream.records"] >= 100
            assert snap["stream.batches"] >= 1
        finally:
            spark.streams.removeListener(listener)


class TestKafkaSourceMetricsBridge:
    """util/KafkaMetricsReporter.scala parity: every source-level fact
    Spark exposes lands in the registry as a gauge under the
    reference's unique-name-with-tag-keys convention, and removal
    re-registers 0.0 (Prometheus can't unregister)."""

    class _Src:
        def __init__(self):
            self.numInputRows = 42
            self.inputRowsPerSecond = 21.5
            self.metrics = {
                "minOffsetsBehindLatest": "0",
                "maxOffsetsBehindLatest": "7",
                "avgOffsetsBehindLatest": "3.5",
            }
            self.endOffset = '{"t": {"0": 100, "1": 50}}'
            self.latestOffset = '{"t": {"0": 107, "1": 50}}'

    class _Progress:
        def __init__(self, sources, watermark=None):
            self.sources = sources
            self.id = "q1"
            self.batchId = 3
            self.numInputRows = sum(s.numInputRows for s in sources)
            self.inputRowsPerSecond = 21.5
            self.processedRowsPerSecond = 30.0
            self.batchDuration = 1400
            self.eventTime = {"watermark": watermark} if watermark else {}

    class _Event:
        def __init__(self, progress):
            self.progress = progress

    def test_kafka_progress_bridges_to_gauges(self):
        from stream_loader_spark.streaming.metrics import (
            MetricsListener,
            MetricsRegistry,
        )

        listener = MetricsListener(MetricsRegistry())
        listener.onQueryProgress(self._Event(self._Progress([self._Src()])))
        snap = listener.registry.snapshot()
        assert snap["kafka.source.records-consumed"] == 42
        assert snap["kafka.source.records-consumed-rate"] == 21.5
        assert snap["kafka.source.maxOffsetsBehindLatest"] == 7.0
        # per-partition end offsets + lag (latest − end), tagged
        assert snap["kafka.source.end-offset.by.partition.topic{partition=0,topic=t}"] == 100
        assert snap["kafka.source.records-lag.by.partition.topic{partition=0,topic=t}"] == 7
        assert snap["kafka.source.records-lag.by.partition.topic{partition=1,topic=t}"] == 0

    def test_non_kafka_source_degrades_gracefully(self):
        """File-stream progress (logOffset JSON, no metrics map) must not
        crash or emit bogus per-partition gauges."""
        from stream_loader_spark.streaming.metrics import MetricsListener

        src = self._Src()
        src.metrics = None
        src.endOffset = '{"logOffset": 3}'
        src.latestOffset = None
        listener = MetricsListener()
        listener.onQueryProgress(self._Event(self._Progress([src])))
        snap = listener.registry.snapshot()
        assert snap["kafka.source.records-consumed"] == 42
        assert not any("by.partition.topic" in k for k in snap)

    def test_departed_partition_gauges_zero_not_frozen(self):
        """A partition leaving the subscription must stop exporting its
        last lag (KafkaMetricsReporter.scala:70-79 removal parity)."""
        from stream_loader_spark.streaming.metrics import (
            MetricsListener,
            MetricsRegistry,
        )

        listener = MetricsListener(MetricsRegistry())
        listener.onQueryProgress(self._Event(self._Progress([self._Src()])))
        src2 = self._Src()
        src2.endOffset = '{"t": {"0": 120}}'  # partition 1 departed
        src2.latestOffset = '{"t": {"0": 125}}'
        listener.onQueryProgress(self._Event(self._Progress([src2])))
        snap = listener.registry.snapshot()
        assert snap["kafka.source.records-lag.by.partition.topic{partition=0,topic=t}"] == 5
        assert snap["kafka.source.records-lag.by.partition.topic{partition=1,topic=t}"] == 0.0
        assert snap["kafka.source.end-offset.by.partition.topic{partition=1,topic=t}"] == 0.0

    def test_two_sources_keep_each_others_partitions(self):
        """A progress event with two sources records both sources'
        partitions; the second source must not retire the first's
        gauges as departed."""
        from stream_loader_spark.streaming.metrics import MetricsListener

        a, b = self._Src(), self._Src()
        a.description, b.description = "KafkaV2[Subscribe[a]]", "KafkaV2[Subscribe[b]]"
        a.endOffset, a.latestOffset = '{"a": {"0": 10}}', '{"a": {"0": 12}}'
        b.endOffset, b.latestOffset = '{"b": {"0": 20}}', '{"b": {"0": 20}}'
        listener = MetricsListener()
        for _ in range(2):
            listener.onQueryProgress(self._Event(self._Progress([a, b])))
        snap = listener.registry.snapshot()
        assert snap["kafka.source.end-offset.by.partition.topic{partition=0,topic=a}"] == 10
        assert snap["kafka.source.records-lag.by.partition.topic{partition=0,topic=a}"] == 2
        assert snap["kafka.source.end-offset.by.partition.topic{partition=0,topic=b}"] == 20

    def test_registry_removal_pins_zero(self):
        from stream_loader_spark.streaming.metrics import MetricsRegistry

        reg = MetricsRegistry()
        reg.set_gauge("g", 5.0, {"topic": "t"})
        reg.remove_gauge("g", {"topic": "t"})
        assert reg.snapshot() == {"g{topic=t}": 0.0}

    def test_stream_facts_share_the_registry_with_source_facts(self):
        """One progress event fills the stream counters and gauges, the
        per-query entries and the source entries of one registry;
        counters accumulate across events, gauges keep the last."""
        from stream_loader_spark.streaming.metrics import MetricsListener

        listener = MetricsListener()
        listener.onQueryProgress(self._Event(self._Progress([self._Src()])))
        listener.onQueryProgress(self._Event(self._Progress([self._Src()])))
        snap = listener.registry.snapshot()
        assert snap["stream.batches"] == 2
        assert snap["stream.records"] == 84
        assert snap["stream.input-rows-per-sec"] == 21.5
        assert snap["stream.process-rows-per-sec"] == 30.0
        assert snap["stream.batch-duration-ms"] == 1400
        assert snap["stream.batch-id.by.query{query=q1}"] == 3
        assert snap["stream.input-rows.by.query{query=q1}"] == 42
        assert snap["kafka.source.records-consumed"] == 42

    def test_watermark_delay_waits_for_a_real_watermark(self):
        """Spark reports the epoch as the watermark until the first real
        one: that placeholder sets no delay entry, a real one does."""
        from datetime import datetime, timedelta, timezone

        from stream_loader_spark.streaming.metrics import MetricsListener

        listener = MetricsListener()
        placeholder = self._Progress([self._Src()], watermark="1970-01-01T00:00:00.000Z")
        listener.onQueryProgress(self._Event(placeholder))
        assert "stream.watermark-delay-ms" not in listener.registry.snapshot()

        wm = datetime.now(timezone.utc) - timedelta(minutes=5)
        real = self._Progress([self._Src()], watermark=wm.strftime("%Y-%m-%dT%H:%M:%S.000Z"))
        listener.onQueryProgress(self._Event(real))
        delay = listener.registry.snapshot()["stream.watermark-delay-ms"]
        assert 299_000 <= delay < 360_000


class TestTruncatePropertyBased:
    def test_truncation_properties_bulk(self, spark):
        """Hypothesis-style property check, batched through one Spark job:
        for random unicode strings and byte budgets, the result (1) fits
        the budget, (2) is a character prefix, (3) is maximal — the next
        character would overflow."""
        import random

        rng = random.Random(42)
        # pool spans 1-, 2-, 3-, and 4-byte UTF-8 characters (astral incl.)
        pool = "aZ9 .äßñéЖ日本語中문𝔘𝕊😀🚀𠀋"
        cases = [
            (
                "".join(rng.choice(pool) for _ in range(rng.randint(0, 12))),
                rng.randint(0, 16),
            )
            for _ in range(300)
        ]
        # dedupe and build one DataFrame; few Spark jobs evaluate all cases
        cases = list({(t, b) for t, b in cases})
        df = spark.createDataFrame(cases, "t string, b int")
        out = []
        for b in sorted({b for _, b in cases}):
            sub = df.where(F.col("b") == b).select(
                "t", truncate_utf8(F.col("t"), b).alias("r")
            )
            out.extend((r["t"], b, r["r"]) for r in sub.collect())
        for t, b, r in out:
            assert len(r.encode("utf-8")) <= b, (t, b, r)
            assert t.startswith(r), (t, b, r)
            if len(r) < len(t):
                nxt = t[len(r)]
                assert len((r + nxt).encode("utf-8")) > b, (t, b, r)


class TestTimestampNtzNormalization:
    """Pin the fix for the Spark 4.1 TIMESTAMP_NTZ regression.

    The fixture parquet stores timestamp[us] with isAdjustedToUTC=false;
    Spark 4.1+ infers TIMESTAMP_NTZ for those unless
    spark.sql.parquet.inferTimestampNTZ.enabled=false. load_table must
    yield plain TIMESTAMP regardless of that conf so unix_millis /
    session_window / watermark operators keep resolving.
    """

    def test_load_table_yields_ltz_even_with_ntz_inference(self, spark, sf_small):
        from stream_loader_spark.sources.tables import load_table

        prev = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", None)
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        try:
            for table, col in (("events", "ts"), ("orders", "o_orderdate")):
                df = load_table(spark, sf_small, table)
                assert df.schema[col].dataType.typeName() == "timestamp", table
                # the operator class that broke must analyze
                df.select(F.unix_millis(F.col(col)).alias("ms")).limit(1).collect()
        finally:
            if prev is not None:
                spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", prev)

    def test_load_table_defeats_ntz_default_timestamp_type(self, spark, sf_small):
        """Round-3 driver failure: a caller session with
        spark.sql.timestampType=TIMESTAMP_NTZ makes cast("timestamp")
        resolve to NTZ (a silent no-op on an NTZ column). load_table and
        event_ts_col must cast to the explicit "timestamp_ltz" type so
        unix_millis/session_window resolve under ANY caller session."""
        from stream_loader_spark.sources.kafka_view import event_ts_col
        from stream_loader_spark.sources.tables import load_table

        confs = {
            "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
            "spark.sql.timestampType": "TIMESTAMP_NTZ",
        }
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            raw = spark.read.parquet(f"{sf_small}/events.parquet")
            assert raw.schema["ts"].dataType.typeName() == "timestamp_ntz"
            # the no-op trap the driver hit:
            assert (
                raw.select(F.col("ts").cast("timestamp")).schema[0].dataType.typeName()
                == "timestamp_ntz"
            )
            df = load_table(spark, sf_small, "events")
            assert df.schema["ts"].dataType.typeName() == "timestamp"
            df.select(F.unix_millis("ts")).limit(1).collect()
            assert (
                raw.select(event_ts_col(raw).alias("ts")).schema[0].dataType.typeName()
                == "timestamp"
            )
        finally:
            for k, v in prev.items():
                if v is not None:
                    spark.conf.set(k, v)

    def test_ntz_cast_preserves_utc_wall_values(self, spark, sf_small):
        from stream_loader_spark.sources.tables import load_table

        prev = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", None)
        try:
            spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
            with_cast = (
                load_table(spark, sf_small, "events")
                .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
                .collect()[0]
            )
            spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
            native = (
                spark.read.parquet(f"{sf_small}/events.parquet")
                .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
                .collect()[0]
            )
            assert with_cast == native
        finally:
            if prev is not None:
                spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", prev)


class TestKafkaBridgeWithRealStream:
    def test_bridge_consumes_real_progress_events(self, spark, tmp_path):
        """The unit tests feed fake progress objects; this attaches the
        listener to a REAL streaming query so the attribute access paths
        (progress.numInputRows/batchId/eventTime and
        progress.sources[i].numInputRows/metrics/endOffset) are validated
        against Spark's actual event classes, and the stream-level and
        source-level entries land in one registry."""
        import time

        from stream_loader_spark.sinks.manifest import ManifestFileSink
        from stream_loader_spark.streaming.metrics import MetricsListener
        from stream_loader_spark.streaming.pipeline import StreamPipeline

        src = str(tmp_path / "src")
        spark.range(50).select(
            F.lit("t").alias("topic"),
            F.lit(0).cast("int").alias("partition"),
            F.col("id").alias("offset"),
            F.current_timestamp().alias("ts"),
        ).coalesce(1).write.parquet(src)

        listener = MetricsListener()
        spark.streams.addListener(listener)
        try:
            query = (
                StreamPipeline(spark)
                .from_file_stream(src, "topic string, partition int, offset bigint, ts timestamp")
                .sink(ManifestFileSink(str(tmp_path / "out")), str(tmp_path / "chk"))
                .trigger(availableNow=True)
                .start()
            )
            assert query.awaitTermination(300)
            snap = {}
            for _ in range(50):  # listener callbacks are async
                snap = listener.registry.snapshot()
                if snap.get("kafka.source.records-consumed", 0) >= 50:
                    break
                time.sleep(0.2)
            assert snap.get("kafka.source.records-consumed") == 50
            # file source reports logOffset JSON: no per-partition gauges
            assert not any("by.partition.topic" in k for k in snap)
            # the same listener filled the stream entries, tagged by query
            assert snap["stream.records"] == 50
            assert snap["stream.batches"] >= 1
            assert snap[f"stream.input-rows.by.query{{query={query.id}}}"] >= 0
            assert f"stream.batch-id.by.query{{query={query.id}}}" in snap
        finally:
            spark.streams.removeListener(listener)
