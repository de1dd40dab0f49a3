"""Tests for partition grouping (G1), streaming dedup-within-watermark
(D1 streaming form), and the Iceberg offset-property codec (K6)."""

import os

import pytest
from pyspark.sql import functions as F

from stream_loader_spark.model.position import StreamPosition
from stream_loader_spark.sinks.manifest import ManifestFileSink
from stream_loader_spark.sinks.iceberg import (
    offset_property,
    encode_position,
    positions_from_properties,
    iceberg_available,
    IcebergOffsetsSink,
)
from stream_loader_spark.streaming.groups import PartitionGroupingPipeline
from stream_loader_spark.streaming.pipeline import StreamPipeline

SCHEMA = "topic string, partition int, offset bigint, ts timestamp"


def write_source(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


class TestPartitionGrouping:
    def test_groups_get_isolated_sinks(self, spark, tmp_path):
        src = str(tmp_path / "src")
        from datetime import datetime

        ts = datetime(2024, 1, 1)
        write_source(
            spark,
            src,
            [("t", p, o, ts) for p in range(4) for o in range(p * 100, p * 100 + 10)],
        )
        sinks = {}

        def sink_factory(group):
            sinks[group] = ManifestFileSink(str(tmp_path / f"out-{group}"))
            return sinks[group]

        pg = PartitionGroupingPipeline(
            spark,
            source_factory=lambda p: p.from_file_stream(src, SCHEMA),
            grouping={
                "even": F.col("partition") % 2 == 0,
                "odd": F.col("partition") % 2 == 1,
            },
            sink_factory=sink_factory,
            checkpoint_root=str(tmp_path / "cp"),
        )
        pg.run_available_all()

        even = sinks["even"].committed_data(spark)
        odd = sinks["odd"].committed_data(spark)
        assert even.count() == 20 and odd.count() == 20
        assert {r["partition"] for r in even.select("partition").distinct().collect()} == {0, 2}
        assert {r["partition"] for r in odd.select("partition").distinct().collect()} == {1, 3}
        # isolated position ledgers per group
        assert set(sinks["even"].committed_positions()) == {("t", 0), ("t", 2)}
        assert set(sinks["odd"].committed_positions()) == {("t", 1), ("t", 3)}


    def test_failing_group_never_blocks_healthy_groups(self, spark, tmp_path):
        """The isolation contract under failure: one group's broken sink
        collects into the summary error while every other group drains
        fully — and since the drain is concurrent (start all, await
        each), a hung group cannot delay healthy ones by its timeout."""
        src = str(tmp_path / "src")
        from datetime import datetime

        ts = datetime(2024, 1, 1)
        write_source(
            spark,
            src,
            [("t", p, o, ts) for p in range(2) for o in range(10)],
        )
        good = ManifestFileSink(str(tmp_path / "out-good"))

        def sink_factory(group):
            if group == "bad":
                def boom(df, bid):
                    raise RuntimeError("sink exploded")

                return boom
            return good

        pg = PartitionGroupingPipeline(
            spark,
            source_factory=lambda p: p.from_file_stream(src, SCHEMA),
            grouping={
                "bad": F.col("partition") == 0,
                "good": F.col("partition") == 1,
            },
            sink_factory=sink_factory,
            checkpoint_root=str(tmp_path / "cp"),
        )
        with pytest.raises(RuntimeError, match="bad"):
            pg.run_available_all(timeout_sec=120)
        assert good.committed_data(spark).count() == 10  # healthy group drained

class TestStreamingDedup:
    def test_duplicates_within_watermark_dropped(self, spark, tmp_path):
        from datetime import datetime, timedelta

        src = str(tmp_path / "src")
        base = datetime.now() - timedelta(minutes=5)
        rows = [("t", 0, o, base + timedelta(seconds=o)) for o in range(20)]
        dups = [("t", 0, o, base + timedelta(seconds=o)) for o in range(5, 15)]
        write_source(spark, src, rows + dups)

        sink = ManifestFileSink(str(tmp_path / "out"))
        (
            StreamPipeline(spark)
            .from_file_stream(src, SCHEMA)
            .clamp_watermark("ts", delay="10 minutes")
            .dedup_within_watermark("topic", "partition", "offset")
            .sink(sink, str(tmp_path / "cp"))
            .run_available()
        )
        data = sink.committed_data(spark)
        assert data.count() == 20  # 10 duplicate deliveries dropped
        assert data.select("offset").distinct().count() == 20


class TestIcebergCodec:
    def test_property_roundtrip(self):
        committed = {
            ("clicks", 0): StreamPosition(100, 5_000),
            ("clicks", 1): StreamPosition(7, 1_000),
            ("views:extra", 3): StreamPosition(42, 0),  # topic containing ':'
        }
        props = {
            offset_property("g1", t, p): encode_position(pos)
            for (t, p), pos in committed.items()
        }
        props["unrelated.key"] = "x"
        props[offset_property("other-group", "clicks", 0)] = "999:0"
        got = positions_from_properties(props, "g1")
        assert got == {
            ("clicks", 0): StreamPosition(101, 5_000),
            ("clicks", 1): StreamPosition(8, 1_000),
            ("views:extra", 3): StreamPosition(43, 0),
        }

    def test_sink_requires_runtime(self, spark):
        if iceberg_available(spark):
            pytest.skip("iceberg runtime present; gated error not applicable")
        with pytest.raises(RuntimeError, match="Iceberg Spark runtime"):
            IcebergOffsetsSink(spark, "cat.db.t", "g1")


class TestStatefulWatermarkTracking:
    def test_future_events_delivered_but_do_not_advance(self, spark, tmp_path):
        """The MaxWatermarkProvider contract: future-stamped records flow
        through carrying an unadvanced watermark; state persists across
        micro-batches (one batch per file via maxFilesPerTrigger)."""
        from datetime import datetime, timedelta, timezone

        src = str(tmp_path / "src")
        base = datetime.now(timezone.utc) - timedelta(hours=2)
        # file 1: offsets 0-4, rising event times
        write_source(
            spark, src, [("t", 0, o, base + timedelta(minutes=o)) for o in range(5)]
        )
        # file 2: offsets 5-7 where offset 6 is 9h in the future (invalid)
        rows2 = [
            ("t", 0, 5, base + timedelta(minutes=10)),
            ("t", 0, 6, datetime.now(timezone.utc) + timedelta(hours=9)),
            ("t", 0, 7, base + timedelta(minutes=11)),
        ]
        spark.createDataFrame(rows2, SCHEMA).coalesce(1).write.mode("append").parquet(src)

        sink = ManifestFileSink(str(tmp_path / "out"), meta_cols=None)
        (
            StreamPipeline(spark)
            .from_file_stream(src, SCHEMA, maxFilesPerTrigger=1)
            .track_watermark(valid_diff_ms=3_600_000)
            .sink(sink, str(tmp_path / "cp"))
            .run_available()
        )
        rows = {
            r["offset"]: r["watermark_ms"]
            for r in sink.committed_data(spark).collect()
        }
        assert len(rows) == 8  # ALL records delivered, including the future one
        # watermark rises with valid events
        assert rows[4] > rows[0]
        base5_ms = int((base + timedelta(minutes=10)).timestamp() * 1000)
        assert rows[5] == base5_ms
        # the future event did NOT advance the watermark...
        assert rows[6] == rows[5]
        # ...and the next valid event resumes normal advancement
        assert rows[7] == int((base + timedelta(minutes=11)).timestamp() * 1000)


class TestStreamingWindowedAggregation:
    def test_closed_windows_emit_in_append_mode(self, spark, tmp_path):
        """readStream → watermark → windowed count → foreachBatch: with
        two micro-batches, windows sealed by the advancing watermark are
        appended exactly once."""
        from datetime import datetime, timedelta, timezone
        from pyspark.sql import functions as F

        src = str(tmp_path / "src")
        base = datetime(2024, 1, 1, tzinfo=timezone.utc)
        # batch 1: hours 0 and 1; batch 2: hour 6 (advances watermark far)
        write_source(
            spark,
            src,
            [("t", 0, o, base + timedelta(minutes=20 * o)) for o in range(6)],
        )
        spark.createDataFrame(
            [("t", 0, 100, base + timedelta(hours=6))], SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)

        out = []

        def collect_sink(df, batch_id):
            out.extend(
                (r["window"]["start"].isoformat(), r["n"]) for r in df.collect()
            )

        (
            StreamPipeline(spark)
            .from_file_stream(src, SCHEMA, maxFilesPerTrigger=1)
            .clamp_watermark("ts", delay="30 minutes", valid_diff="INTERVAL 24 HOURS")
            .transform(
                lambda df: df.groupBy(F.window("ts", "1 hour")).agg(
                    F.count(F.lit(1)).alias("n")
                )
            )
            .sink(collect_sink, str(tmp_path / "cp"))
            .run_available()
        )
        emitted = dict(out)
        # hours 0 and 1 close once the batch-2 watermark (6h - 30min) passes
        assert emitted.get("2024-01-01T00:00:00") == 3  # minutes 0,20,40
        assert emitted.get("2024-01-01T01:00:00") == 3  # 60,80,100
        # the hour-6 window is still open (watermark has not passed it)
        assert "2024-01-01T06:00:00" not in emitted


class TestStreamStreamJoin:
    def test_interval_join_of_two_streams(self, spark, tmp_path):
        """Stream-stream inner join with watermarks and a time-range
        condition: views join purchases of the same partition within the
        following hour — the engine buffers both sides in state and
        evicts by watermark."""
        from datetime import datetime, timedelta, timezone
        from pyspark.sql import functions as F
        from stream_loader_spark.sinks.manifest import ManifestFileSink

        base = datetime(2024, 1, 1, tzinfo=timezone.utc)
        src = str(tmp_path / "src")
        rows = [
            ("view", 0, 1, base),
            ("view", 0, 2, base + timedelta(minutes=30)),
            ("purchase", 0, 3, base + timedelta(minutes=45)),  # joins views 1,2
            ("view", 1, 4, base),
            ("purchase", 1, 5, base + timedelta(hours=3)),  # outside both windows
        ]
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)

        views = (
            spark.readStream.schema(SCHEMA).parquet(src)
            .where(F.col("topic") == "view")
            .select(
                F.col("partition").alias("v_part"),
                F.col("offset").alias("view_id"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "2 hours")
        )
        purchases = (
            spark.readStream.schema(SCHEMA).parquet(src)
            .where(F.col("topic") == "purchase")
            .select(
                F.col("partition").alias("p_part"),
                F.col("offset").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "2 hours")
        )
        joined = views.join(
            purchases,
            (F.col("v_part") == F.col("p_part"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        out = []
        q = (
            joined.writeStream.foreachBatch(
                lambda df, bid: out.extend(
                    (r["view_id"], r["purchase_id"]) for r in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        assert sorted(out) == [(1, 3), (2, 3)]


class TestStreamingSessionWindows:
    def test_session_windows_close_and_emit_once(self, spark, tmp_path):
        """readStream → watermark → session_window (30 min gap) →
        foreachBatch: sessions sealed by the advancing watermark emit
        exactly once, with end = last event + gap (the same expression
        `session_window_stats` verifies against the batch oracle)."""
        from datetime import datetime, timedelta, timezone
        from pyspark.sql import functions as F

        src = str(tmp_path / "src")
        base = datetime(2024, 1, 1, tzinfo=timezone.utc)
        # one user: a 3-event burst, a 40-minute silence, a 2-event burst;
        # then a far-future event to advance the watermark past both
        write_source(
            spark,
            src,
            [("t", 0, o, base + timedelta(minutes=10 * o)) for o in range(3)]
            + [("t", 0, 10 + o, base + timedelta(minutes=60 + 10 * o)) for o in range(2)],
        )
        spark.createDataFrame(
            [("t", 0, 100, base + timedelta(hours=12))], SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)

        out = []

        def collect_sink(df, batch_id):
            out.extend(
                (r["session_window"]["start"].isoformat(),
                 r["session_window"]["end"].isoformat(), r["n"])
                for r in df.collect()
            )

        (
            StreamPipeline(spark)
            .from_file_stream(src, SCHEMA, maxFilesPerTrigger=1)
            .clamp_watermark("ts", delay="30 minutes", valid_diff="INTERVAL 24 HOURS")
            .transform(
                lambda df: df.groupBy(
                    F.col("partition"), F.session_window("ts", "30 minutes")
                ).agg(F.count(F.lit(1)).alias("n"))
            )
            .sink(collect_sink, str(tmp_path / "cp"))
            .run_available()
        )
        sessions = {(s, e): n for s, e, n in out}
        # burst 1: events at 0/10/20 min -> session [0, 20+30) with 3 events
        assert sessions.get(("2024-01-01T00:00:00", "2024-01-01T00:50:00")) == 3
        # burst 2: events at 60/70 min -> session [60, 70+30) with 2 events
        assert sessions.get(("2024-01-01T01:00:00", "2024-01-01T01:40:00")) == 2
        # the watermark-advancing event's own session is still open
        assert all(not s.startswith("2024-01-01T12") for s, _ in sessions)
