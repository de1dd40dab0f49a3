"""End-to-end exactly-once tests: the PySpark analogue of the
reference's basicLoader / restart integration suite
(behaviors/BasicLoaderBehaviors.scala:36-99), with file streams standing
in for Kafka and tmp dirs for storage."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from stream_loader_spark.sources.kafka_view import as_stream_records
from stream_loader_spark.sources.tables import load_table
from stream_loader_spark.sinks.manifest import ManifestFileSink
from stream_loader_spark.sinks.offsets import InRowOffsetsSink, ExternalOffsetsSink
from stream_loader_spark.streaming.pipeline import StreamPipeline
from stream_loader_spark.operators.recovery import committed_positions

from conftest import job_group

STREAM_SCHEMA = (
    "topic string, partition int, offset bigint, ts timestamp, value double, props string"
)


@pytest.fixture()
def stream_env(spark, sf_small, tmp_path):
    """A file-stream source dir seeded with the sf0.001 events (phase 1)
    plus a generator for a disjoint phase-2 batch."""
    src = str(tmp_path / "src")
    base = as_stream_records(load_table(spark, sf_small, "events"))
    base.coalesce(1).write.parquet(os.path.join(src, "phase1"))

    def add_phase2():
        base.withColumn("offset", F.col("offset") + 1_000_000).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")
        ).coalesce(1).write.parquet(os.path.join(src, "phase2"))

    return {
        "src": src,
        "base_count": base.count(),
        "add_phase2": add_phase2,
        "checkpoint": str(tmp_path / "cp"),
        "out": str(tmp_path / "out"),
    }


@pytest.fixture()
def no_success_markers(spark):
    """Hadoop's output committer writes no ``_SUCCESS`` marker while the
    test runs (a common object-store setting)."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    prior = conf.get(key)
    conf.set(key, "false")
    try:
        yield
    finally:
        if prior is None:
            conf.unset(key)
        else:
            conf.set(key, prior)


def run_pipeline(spark, env, sink):
    (
        StreamPipeline(spark)
        .from_file_stream(os.path.join(env["src"], "*"), STREAM_SCHEMA)
        .sink(sink, env["checkpoint"])
        .run_available()
    )


class TestManifestFileSink:
    def test_basic_load_then_restart_continues(self, spark, stream_env):
        sink = ManifestFileSink(stream_env["out"])
        run_pipeline(spark, stream_env, sink)

        n = stream_env["base_count"]
        data = sink.committed_data(spark)
        assert data.count() == n
        assert data.select("topic", "partition", "offset").distinct().count() == n

        # storage-side positions equal the A1 aggregation over the data
        expected = {
            (r["topic"], r["partition"]): r["next_offset"]
            for r in committed_positions(
                data, "topic", "partition", "offset", "ts"
            ).collect()
        }
        got = {k: p.offset for k, p in sink.committed_positions().items()}
        assert got == expected

        # restart with new data: only the new file is processed
        stream_env["add_phase2"]()
        run_pipeline(spark, stream_env, sink)
        data2 = sink.committed_data(spark)
        assert data2.count() == 2 * n
        assert data2.select("topic", "partition", "offset").distinct().count() == 2 * n

    def test_restart_without_new_data_is_noop(self, spark, stream_env):
        sink = ManifestFileSink(stream_env["out"])
        run_pipeline(spark, stream_env, sink)
        batches = len(sink.committed_batches())
        run_pipeline(spark, stream_env, sink)
        assert len(sink.committed_batches()) == batches
        assert sink.committed_data(spark).count() == stream_env["base_count"]

    def test_crash_between_data_and_manifest_then_replay(self, spark, stream_env):
        """The 2PC crash path: data written, commit record not — replay
        must overwrite and commit exactly once."""
        sink = ManifestFileSink(stream_env["out"])
        batch = as_stream_records(load_table(spark, "/root/testdata/sf0.001", "events"))

        real_commit = sink._commit_manifest
        boom = RuntimeError("crash before manifest commit")

        def crashing_commit(batch_id, ranges):
            raise boom

        sink._commit_manifest = crashing_commit
        with pytest.raises(RuntimeError):
            sink.write_batch(batch, 0)
        assert os.path.exists(sink.batch_data_dir(0))  # data landed
        assert not sink.is_batch_committed(0)  # but batch is NOT committed
        with pytest.raises(ValueError):
            sink.committed_data(spark)  # uncommitted data is invisible

        sink._commit_manifest = real_commit
        sink.write_batch(batch, 0)  # replay
        assert sink.is_batch_committed(0)
        assert sink.committed_data(spark).count() == batch.count()

        # second replay is a no-op (idempotent)
        sink.write_batch(batch, 0)
        assert sink.committed_data(spark).count() == batch.count()

    def test_partitioned_write_and_compaction(self, spark, stream_env):
        sink = ManifestFileSink(stream_env["out"], partition_by="dt")
        (
            StreamPipeline(spark)
            .from_file_stream(os.path.join(stream_env["src"], "*"), STREAM_SCHEMA)
            .partition_by_date("ts")
            .sink(sink, stream_env["checkpoint"])
            .run_available()
        )
        # Hive-style partition dirs exist → readers get partition pruning
        batch_dir = sink.batch_data_dir(0)
        assert any(x.startswith("dt=") for x in os.listdir(batch_dir))


class TestManifestWriteTasks:
    """The write takes one task per ``ROWS_PER_WRITE_TASK`` rows of the
    cached batch, at most one per batch partition."""

    def _write(self, spark, tmp_path, name, rows=100):
        from datetime import datetime, timezone

        batch = spark.range(0, rows, 1, 4).select(
            F.lit("t").alias("topic"),
            (F.col("id") % 2).cast("int").alias("partition"),
            F.col("id").alias("offset"),
            F.lit(datetime(2024, 1, 1, tzinfo=timezone.utc)).alias("ts"),
        )
        sink = ManifestFileSink(str(tmp_path / name))
        sink.write_batch(batch, 0)
        files = [
            f for f in os.listdir(sink.batch_data_dir(0)) if not f.startswith((".", "_"))
        ]
        assert sink.committed_data(spark).count() == rows
        return files

    def test_small_batch_is_one_file(self, spark, tmp_path):
        assert len(self._write(spark, tmp_path, "small")) == 1

    def test_large_batch_spreads_over_batch_partitions(self, spark, tmp_path, monkeypatch):
        from stream_loader_spark.sinks import manifest as manifest_mod

        rows = 2 * manifest_mod.ROWS_PER_WRITE_TASK + 1
        assert len(self._write(spark, tmp_path, "past", rows=rows)) == 3
        monkeypatch.setattr(manifest_mod, "ROWS_PER_WRITE_TASK", 30)
        # ceil(100 / 30) = 4 tasks, one per batch partition
        assert len(self._write(spark, tmp_path, "large")) == 4
        monkeypatch.setattr(manifest_mod, "ROWS_PER_WRITE_TASK", 10)
        # 10 tasks asked, but coalesce never exceeds the 4 partitions
        assert len(self._write(spark, tmp_path, "larger")) == 4


def _parquet_files(root):
    return sorted(
        os.path.join(d, f) for d, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    )


def _ts_column(path, name="ts"):
    import pyarrow.parquet as pq

    schema = pq.read_metadata(path).schema
    return schema.column(schema.names.index(name))


def _is_int64_micros(col) -> bool:
    lt = json.loads(col.logical_type.to_json())
    got = (col.physical_type, lt["Type"], lt.get("timeUnit"))
    return got == ("INT64", "Timestamp", "microseconds")


class TestSinkParquetEncoding:
    """Sink parquet stores timestamps as INT64 ``TIMESTAMP(MICROS)``,
    which carries footer min/max, and a manifest batch file holds its
    rows in stream order."""

    def _batch(self, spark, rows=400):
        from datetime import datetime, timezone

        # offsets descend and topics/partitions interleave, so the rows
        # arrive far from stream order
        return spark.range(0, rows, 1, 4).select(
            F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("topic"),
            (F.col("id") % 4).cast("int").alias("partition"),
            (F.lit(10_000) - F.col("id")).alias("offset"),
            (
                F.lit(datetime(2024, 1, 1, tzinfo=timezone.utc))
                + F.make_interval(days=(F.col("id") % 3).cast("int"), secs=F.col("id"))
            ).alias("ts"),
        )

    @pytest.mark.parametrize("partition_by", [None, "dt"])
    def test_manifest_files_are_int64_micros_in_stream_order(self, spark, tmp_path, partition_by):
        import pyarrow.parquet as pq

        from stream_loader_spark.operators.layout import file_key_ranges

        batch = self._batch(spark)
        if partition_by:
            batch = batch.withColumn("dt", F.to_date("ts"))
        sink = ManifestFileSink(str(tmp_path / "out"), partition_by=partition_by)
        sink.write_batch(batch, 0)
        files = _parquet_files(sink.batch_data_dir(0))
        assert len(files) == (3 if partition_by else 1)
        for path in files:
            assert _is_int64_micros(_ts_column(path)), _ts_column(path)
            rows = pq.read_table(path, columns=["topic", "partition", "offset"]).to_pylist()
            keys = [(r["topic"], r["partition"], r["offset"]) for r in rows]
            assert keys == sorted(keys)
        # footer min/max per file: an INT96 column has none
        assert len(file_key_ranges(sink.batch_data_dir(0), "ts")) == len(files)
        assert sink.committed_data(spark).count() == 400

    def test_upsert_delta_is_int64_micros(self, spark, tmp_path):
        from stream_loader_spark.sinks.upsert import UpsertSink

        sink = UpsertSink(str(tmp_path / "state"), ["partition", "offset"], "ts", num_buckets=4)
        sink.write_batch(self._batch(spark, rows=40), 0)
        files = _parquet_files(sink._version_dir("v", 0))
        assert files
        for path in files:
            assert _is_int64_micros(_ts_column(path)), _ts_column(path)
        assert sink.current_state(spark).count() == 40


class TestMixedTimestampEncodings:
    """A table written partly under Spark's INT96 timestamps and partly
    under the INT64 default reads as one table, with no rebuild, across
    the whole calendar range: every read agrees with a model."""

    # micros since the epoch: before the Gregorian cutover, ordinary,
    # and far in the future
    OLD = -30_610_224_000_000_000  # 1000-01-01T00:00:00Z
    FAR = 221_845_437_296_789_012  # 9000-01-01T12:34:56.789012Z
    TS = [OLD, 0, 1_700_000_000_123_456, FAR]

    @staticmethod
    def _encoding(spark, kind):
        key = "spark.sql.parquet.outputTimestampType"
        prior = spark.conf.get(key)
        spark.conf.set(key, kind)
        return lambda: spark.conf.set(key, prior)

    def _commit(self, spark, kind, write):
        restore = self._encoding(spark, kind)
        try:
            write()
        finally:
            restore()

    def test_manifest_sink_reads_across_encodings(self, spark, tmp_path):
        sink = ManifestFileSink(str(tmp_path / "out"))
        model = set()
        for batch_id in range(4):
            rows = [
                ("t", p, 100 * batch_id + i, self.TS[(batch_id + i) % 4])
                for i, p in enumerate([0, 1, 0, 1, 2])
            ]
            model |= set(rows)
            df = spark.createDataFrame(
                rows, "topic string, partition int, offset bigint, us bigint"
            ).select("topic", "partition", "offset", F.timestamp_micros("us").alias("ts"))
            kind = "INT96" if batch_id < 2 else "TIMESTAMP_MICROS"
            self._commit(spark, kind, lambda: sink.write_batch(df, batch_id))
            (path,) = _parquet_files(sink.batch_data_dir(batch_id))
            assert _ts_column(path).physical_type == ("INT96" if batch_id < 2 else "INT64")

        def committed():
            df = sink.committed_data(spark)
            return sorted(
                tuple(r)
                for r in df.select("topic", "partition", "offset", F.unix_micros("ts")).collect()
            )

        assert committed() == sorted(model)
        target = sink.compact_data(spark)
        sink.vacuum()
        assert [b.data_dir for b in sink.committed_batches()] == [target]
        assert all(_is_int64_micros(_ts_column(p)) for p in _parquet_files(target))
        assert committed() == sorted(model)
        assert {k: p.offset for k, p in sink.committed_positions().items()} == {
            ("t", 0): 303,
            ("t", 1): 304,
            ("t", 2): 305,
        }

    def test_upsert_sink_reads_across_encodings(self, spark, tmp_path):
        from stream_loader_spark.sinks.upsert import UpsertSink

        sink = UpsertSink(
            str(tmp_path / "state"), ["k"], "ver", num_buckets=4, tombstone_col="_del"
        )
        # (k, ts micros, delete, ver). Key 3 is rewritten in batch 2
        # with the row batch 0 stored under INT96: equal across the two
        # encodings, so it is no change
        ops = [
            [(k, self.TS[k % 4], False, 1) for k in range(8)],
            [(1, self.TS[3], False, 2), (2, None, True, 2), (5, self.TS[0], False, 2)],
            [(2, self.TS[0], False, 3), (3, self.TS[3], False, 1), (5, None, True, 3)],
            [(0, self.FAR, False, 4), (3, self.OLD, False, 4), (9, self.TS[2], False, 4)],
        ]
        model: dict[int, tuple] = {}  # k -> (ts micros, ver)
        snaps, feeds = {}, {}
        for batch_id, rows in enumerate(ops):
            df = spark.createDataFrame(rows, "k long, us bigint, _del boolean, ver long").select(
                "k", F.timestamp_micros("us").alias("ts"), "_del", "ver"
            )
            kind = "INT96" if batch_id < 2 else "TIMESTAMP_MICROS"
            self._commit(spark, kind, lambda: sink.write_batch(df, batch_id))
            feed = {}
            for k, us, dele, ver in rows:
                if dele and k in model:
                    feed[k] = ("delete", None, None, *model.pop(k))
                elif not dele and k not in model:
                    feed[k] = ("insert", us, ver, None, None)
                elif not dele and model[k] != (us, ver):
                    feed[k] = ("update", us, ver, *model[k])
                if not dele:
                    model[k] = (us, ver)
            snaps[batch_id], feeds[batch_id] = dict(model), feed
        assert 3 not in feeds[2]
        (path,) = _parquet_files(sink._version_dir("v", 1))
        assert _ts_column(path).physical_type == "INT96"

        def state(as_of=None):
            df = sink.current_state(spark, as_of_batch=as_of)
            rows = df.select("k", F.unix_micros("ts"), "ver").collect()
            return {r[0]: (r[1], r[2]) for r in rows}

        def change_feed(batch_id):
            df = sink.change_feed(spark, batch_id).select(
                "k", "_change", F.unix_micros("ts"), "ver", F.unix_micros("_old_ts"), "_old_ver"
            )
            return {r[0]: tuple(r[1:]) for r in df.collect()}

        for b in range(4):
            assert state(b) == snaps[b], b
            assert change_feed(b) == feeds[b], b
        sink.vacuum(keep_last=2)  # one base folds INT96 and INT64 deltas
        assert state() == state(3) == snaps[3]
        assert change_feed(3) == feeds[3]


class TestInRowOffsetsSink:
    def test_load_and_recover_positions_from_data(self, spark, stream_env):
        sink = InRowOffsetsSink(stream_env["out"])
        run_pipeline(spark, stream_env, sink)
        n = stream_env["base_count"]
        table = sink.table(spark)
        assert table.count() == n
        assert {"_topic", "_partition", "_offset", "_watermark"} <= set(table.columns)
        assert "batch" not in table.columns  # dirs are read as their own roots

        # Kafka-free restart: positions from the data itself (A1)
        pos = sink.committed_positions(spark)
        src = as_stream_records(load_table(spark, "/root/testdata/sf0.001", "events"))
        expected = committed_positions(src, "topic", "partition", "offset", "ts")
        assert sorted(map(tuple, pos.collect())) == sorted(map(tuple, expected.collect()))

    def test_replay_is_noop(self, spark, stream_env):
        sink = InRowOffsetsSink(stream_env["out"])
        batch = as_stream_records(load_table(spark, "/root/testdata/sf0.001", "events"))
        sink(batch, 0)
        sink(batch, 0)
        assert sink.table(spark).count() == batch.count()

    def test_commits_without_success_markers(
        self, spark, sf_small, tmp_path, no_success_markers
    ):
        """The log record is the commit: a batch commits, reads back and
        skips its replay with no ``_SUCCESS`` marker written."""
        sink = InRowOffsetsSink(str(tmp_path / "out"))
        batch = as_stream_records(load_table(spark, sf_small, "events"))
        sink(batch, 0)
        files = sorted(os.listdir(sink.store.batch_dir("data", 0)))
        assert "_SUCCESS" not in files
        assert sink.is_batch_committed(0)
        sink(batch, 0)  # replay: skipped, the batch's files stay as written
        assert sorted(os.listdir(sink.store.batch_dir("data", 0))) == files
        assert sink.table(spark).count() == batch.count()
        expected = committed_positions(batch, "topic", "partition", "offset", "ts")
        assert sorted(map(tuple, sink.committed_positions(spark).collect())) == sorted(
            map(tuple, expected.collect())
        )

    def test_positions_after_compaction_run_at_most_three_jobs(self, spark, tmp_path):
        """After 64 one-row batches, ``compact`` and ``vacuum``, the
        recovery query reads one generation dir: no listing job with
        one task per batch dir, which Spark adds past 32 paths."""
        from datetime import datetime, timezone

        sink = InRowOffsetsSink(str(tmp_path / "out"))
        ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
        schema = "topic string, partition int, offset bigint, ts timestamp"
        for b in range(64):
            sink(spark.createDataFrame([("t", 0, b, ts)], schema), b)
        assert sink.compact(spark) == {"data": 64}
        assert len(sink.vacuum()) == 64
        with job_group(spark) as group:
            rows = sink.committed_positions(spark).collect()
        assert len(group.job_ids()) <= 3
        assert [(r.topic, r.partition, r.next_offset) for r in rows] == [("t", 0, 64)]

    def test_table_without_commit_log_is_refused(self, spark, tmp_path):
        """A table in the success-marker format (``batch=<n>`` dirs, no
        ``_manifest``) is refused, not read as empty."""
        out = tmp_path / "out"
        spark.range(3).write.parquet(str(out / "batch=0"))
        assert os.path.exists(out / "batch=0" / "_SUCCESS")
        with pytest.raises(ValueError, match="predates commit records"):
            InRowOffsetsSink(str(out))
        assert not os.path.exists(out / "_manifest")


    def test_records_without_row_counts_are_refused(self, spark, tmp_path):
        """A log whose batch records carry no row counts (the format
        before batch-directory tables) is refused, not read."""
        log = tmp_path / "out" / "_manifest"
        log.mkdir(parents=True)
        (log / f"batch-{0:020d}.json").write_text(json.dumps({"batch_id": 0}))
        sink = InRowOffsetsSink(str(tmp_path / "out"))
        with pytest.raises(ValueError, match="rebuild"):
            sink.table(spark)


class TestExternalOffsetsSink:
    def test_load_offsets_table_and_fk_join(self, spark, stream_env, tmp_path):
        sink = ExternalOffsetsSink(
            str(tmp_path / "data"), str(tmp_path / "offsets"), consumer_group="cg1"
        )
        run_pipeline(spark, stream_env, sink)
        n = stream_env["base_count"]

        offsets = sink.offsets_table(spark)
        assert offsets.where(F.col("_consumer_group") == "cg1").count() > 0

        # data ↔ offsets joinable via _batch_id (the reference's _file_id FK)
        joined = sink.data_table(spark).join(offsets, "_batch_id")
        assert joined.count() >= n

        pos = sink.committed_positions(spark)
        src = as_stream_records(load_table(spark, "/root/testdata/sf0.001", "events"))
        expected = committed_positions(src, "topic", "partition", "offset", "ts")
        assert sorted(map(tuple, pos.collect())) == sorted(map(tuple, expected.collect()))

    def test_wrong_consumer_group_sees_nothing(self, spark, stream_env, tmp_path):
        sink = ExternalOffsetsSink(
            str(tmp_path / "data"), str(tmp_path / "offsets"), consumer_group="cg1"
        )
        run_pipeline(spark, stream_env, sink)
        other = ExternalOffsetsSink(
            str(tmp_path / "data"), str(tmp_path / "offsets"), consumer_group="other"
        )
        assert other.committed_positions(spark).count() == 0

    def test_replay_runs_the_batch_plan_and_writes_nothing(self, spark, sf_small, tmp_path):
        """A replay of a committed batch must still execute its plan, so
        stateful operators upstream commit their state stores."""
        sink = ExternalOffsetsSink(
            str(tmp_path / "data"), str(tmp_path / "offsets"), consumer_group="cg1"
        )
        batch = as_stream_records(load_table(spark, sf_small, "events"))
        sink(batch, 0)
        offsets_before = sorted(map(tuple, sink.offsets_table(spark).collect()))
        with job_group(spark) as replay:
            sink(batch, 0)
        assert replay.job_ids()
        assert sorted(map(tuple, sink.offsets_table(spark).collect())) == offsets_before

    def test_commits_without_success_markers(
        self, spark, sf_small, tmp_path, no_success_markers
    ):
        """The log record is the commit: a batch commits, reads back and
        skips its replay with no ``_SUCCESS`` marker written."""
        sink = ExternalOffsetsSink(
            str(tmp_path / "data"), str(tmp_path / "offsets"), consumer_group="cg1"
        )
        batch = as_stream_records(load_table(spark, sf_small, "events"))
        sink(batch, 0)
        dirs = (sink.store.batch_dir("data", 0), sink.store.batch_dir("offsets", 0))
        files = [sorted(os.listdir(d)) for d in dirs]
        assert not any("_SUCCESS" in f for f in files)
        assert sink.is_batch_committed(0)
        sink(batch, 0)  # replay: skipped, the batch's files stay as written
        assert [sorted(os.listdir(d)) for d in dirs] == files
        assert sink.offsets_table(spark).count() > 0
        expected = committed_positions(batch, "topic", "partition", "offset", "ts")
        assert sorted(map(tuple, sink.committed_positions(spark).collect())) == sorted(
            map(tuple, expected.collect())
        )

    @pytest.mark.parametrize("legacy", ["data", "offsets"])
    def test_table_without_commit_log_is_refused(self, spark, tmp_path, legacy):
        """Batch dirs in the success-marker format under either root,
        with no ``_manifest``, are refused, not read as empty."""
        spark.range(3).write.parquet(str(tmp_path / legacy / "batch=0"))
        with pytest.raises(ValueError, match="predates commit records"):
            ExternalOffsetsSink(
                str(tmp_path / "data"), str(tmp_path / "offsets"), consumer_group="cg1"
            )
        assert not os.path.exists(tmp_path / "offsets" / "_manifest")


class TestCompaction:
    def test_compact_then_vacuum_preserves_data_and_positions(self, spark, stream_env):
        sink = ManifestFileSink(stream_env["out"])
        batch = as_stream_records(load_table(spark, "/root/testdata/sf0.001", "events"))
        # three small batches with disjoint offset spans
        for i in range(3):
            sink.write_batch(batch.withColumn("offset", F.col("offset") + F.lit(i * 10_000)), i)
        n = batch.count()
        pos_before = sink.committed_positions()
        assert len(sink.committed_batches()) == 3

        target = sink.compact_data(spark)
        assert target is not None
        live = sink.committed_batches()
        assert len(live) == 1 and live[0].data_dir == target
        assert sink.committed_data(spark).count() == 3 * n
        assert sink.committed_positions() == pos_before

        # replays of compacted-away batches are STILL no-ops
        assert sink.is_batch_committed(0) and sink.is_batch_committed(2)
        removed = sink.vacuum()
        assert len(removed) == 3
        assert sink.is_batch_committed(0)  # remembered via the compaction record
        sink.write_batch(batch, 0)  # replay after vacuum
        assert sink.committed_data(spark).count() == 3 * n

        # new batches append after compaction; a second compaction folds them in
        sink.write_batch(batch.withColumn("offset", F.col("offset") + F.lit(90_000)), 7)
        assert sink.committed_data(spark).count() == 4 * n
        assert sink.compact_data(spark) is not None
        sink.vacuum()
        assert sink.committed_data(spark).count() == 4 * n
        assert len(sink.committed_batches()) == 1

    def test_compaction_writes_one_file_per_date_in_stream_order(self, spark, tmp_path):
        """Twelve five-row batches over two dates fold into one file per
        date, its rows sorted by (topic, partition, offset): the fold
        writes like the write path, not one file per folded batch."""
        import pyarrow.parquet as pq
        from datetime import datetime, timezone

        sink = ManifestFileSink(str(tmp_path / "out"), partition_by="dt")
        model = set()
        for batch_id in range(12):
            rows = [
                (f"t{o % 2}", o % 3, o, datetime(2024, 1, 1 + o % 2, tzinfo=timezone.utc))
                for o in range(5 * batch_id, 5 * batch_id + 5)
            ]
            model |= {r[:3] for r in rows}
            df = spark.createDataFrame(
                rows, "topic string, partition int, offset bigint, ts timestamp"
            ).withColumn("dt", F.to_date("ts"))
            sink.write_batch(df, batch_id)
        target = sink.compact_data(spark)
        files = _parquet_files(target)
        dates = sorted(os.path.basename(os.path.dirname(f)) for f in files)
        assert dates == ["dt=2024-01-01", "dt=2024-01-02"], files
        for path in files:
            rows = pq.read_table(path, columns=["topic", "partition", "offset"]).to_pylist()
            keys = [(r["topic"], r["partition"], r["offset"]) for r in rows]
            assert keys == sorted(keys)
        sink.vacuum()
        got = sink.committed_data(spark).select("topic", "partition", "offset").collect()
        assert sorted(map(tuple, got)) == sorted(model)

    def test_compaction_record_stays_bounded_with_sparse_offsets(self, spark, tmp_path):
        """With SPARSE per-partition offsets (offset = a global event id,
        so consecutive-only merging can never collapse across batches),
        the compaction record must still stay bounded: summarized
        ranges (keep_ranges per partition) + one replaces_upto
        watermark instead of a transitive id list — while recovery
        positions, replay guards, and committed data stay exact."""
        import glob
        import json as _json
        from datetime import datetime, timezone

        ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
        schema = "topic string, partition int, offset bigint, ts timestamp"
        sink = ManifestFileSink(str(tmp_path / "out"), compaction_keep_ranges=3)
        n_batches, per = 12, 4
        for b in range(n_batches):
            rows = [
                # partition p owns every other global offset in its span:
                # gaps inside (t, p) between AND within batches
                ("t", p, (b * 2 * per + 2 * j) * 2 + p, ts)
                for p in (0, 1)
                for j in range(per)
            ]
            sink.write_batch(spark.createDataFrame(rows, schema), b)
            if (b + 1) % 4 == 0:
                assert sink.compact_data(spark) is not None
                sink.vacuum()

        recs = sorted(glob.glob(str(tmp_path / "out" / "_manifest" / "compaction-*.json")))
        assert len(recs) == 1  # vacuum reclaimed superseded compactions
        rec = _json.loads(open(recs[-1]).read())
        assert "replaces_upto" in rec and "replaces" not in rec
        assert rec["replaces_upto"] == n_batches - 1
        assert len(rec["ranges"]) <= 3 * 2  # keep_ranges per partition
        # every folded batch still proves committed (replay no-ops)
        for b in range(n_batches):
            assert sink.is_batch_committed(b), b
        # recovery positions = exact max end per partition
        pos = sink.committed_positions()
        top = ((n_batches - 1) * 2 * per + 2 * (per - 1)) * 2
        assert pos[("t", 0)].offset == top + 1
        assert pos[("t", 1)].offset == top + 2
        assert sink.committed_data(spark).count() == n_batches * 2 * per

    def test_legacy_replaces_list_records_are_refused(self, spark, tmp_path):
        """Compaction records that enumerate the ids they fold
        (``replaces``) instead of carrying the ``replaces_upto``
        watermark are a format this log no longer reads: every reader
        that opens one refuses it with "rebuild"."""
        from datetime import datetime, timezone

        ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
        schema = "topic string, partition int, offset bigint, ts timestamp"
        sink = ManifestFileSink(str(tmp_path / "out"))
        for b in range(3):
            rows = [("t", 0, b * 10 + j, ts) for j in range(5)]
            sink.write_batch(spark.createDataFrame(rows, schema), b)
        sink.compact_data(spark)
        # rewrite the record in the LEGACY format
        import glob
        import json as _json

        rec_path = glob.glob(str(tmp_path / "out" / "_manifest" / "compaction-*.json"))[0]
        rec = _json.loads(open(rec_path).read())
        rec["replaces"] = [0, 1, 2]
        del rec["replaces_upto"]
        open(rec_path, "w").write(_json.dumps(rec))

        assert sink.is_batch_committed(1)  # its own record still exists
        for read in (
            lambda: sink.is_batch_committed(7),
            sink.committed_batches,
            sink.vacuum,
            lambda: sink.compact_data(spark),
        ):
            with pytest.raises(ValueError, match="rebuild"):
                read()

    def test_crash_before_compaction_record_is_safe(self, spark, stream_env, monkeypatch):
        sink = ManifestFileSink(stream_env["out"])
        batch = as_stream_records(load_table(spark, "/root/testdata/sf0.001", "events"))
        for i in range(2):
            sink.write_batch(batch.withColumn("offset", F.col("offset") + F.lit(i * 10_000)), i)
        n2 = sink.committed_data(spark).count()

        # crash after the consolidated write, before the record lands
        import tempfile as _tf

        def boom(*a, **k):
            raise RuntimeError("crash before compaction record")

        monkeypatch.setattr(_tf, "mkstemp", boom)
        with pytest.raises(RuntimeError):
            sink.compact_data(spark)
        monkeypatch.undo()

        # originals still live and readable; rerun completes the compaction
        assert len(sink.committed_batches()) == 2
        assert sink.committed_data(spark).count() == n2
        assert sink.compact_data(spark) is not None
        assert sink.committed_data(spark).count() == n2


class TestManifestScanCost:
    """The replay check and the recovery read open a bounded number of
    manifest records, however many batches were committed before."""

    @pytest.mark.parametrize("n_batches", [100, 1000])
    def test_manifest_reads_do_not_grow_with_committed_batches(
        self, spark, tmp_path, monkeypatch, n_batches
    ):
        from datetime import datetime, timezone

        from stream_loader_spark.sinks import manifest as manifest_mod

        sink = ManifestFileSink(str(tmp_path / "out"))
        sink.write_batch(
            spark.createDataFrame(
                [("t", 0, 0, datetime(2024, 1, 1, tzinfo=timezone.utc))],
                "topic string, partition int, offset bigint, ts timestamp",
            ),
            0,
        )
        for b in range(1, n_batches):
            sink._commit_manifest(b, [])  # dataless commits (heartbeat batches)

        opened = []

        def counting_open(path, *args, **kwargs):
            opened.append(os.path.basename(path))
            return open(path, *args, **kwargs)

        monkeypatch.setattr(manifest_mod, "open", counting_open, raising=False)
        assert not sink.is_batch_committed(n_batches)
        assert not [n for n in opened if n.startswith("batch-")]

        sink.compact_data(spark)
        sink.vacuum()
        opened.clear()
        positions = sink.committed_positions()
        assert len(opened) == 1, opened
        assert [(k, p.offset) for k, p in positions.items()] == [(("t", 0), 1)]

    def test_upsert_log_reads_and_publish_do_not_grow_with_committed_batches(
        self, spark, tmp_path, monkeypatch
    ):
        """The upsert sink on the same log: after 100 or 1,000 records
        the replay check opens no batch record, a commit publishes a
        record of the same size, and after ``vacuum`` opening state
        reads the compaction record plus the records after it."""
        from stream_loader_spark.sinks import manifest as manifest_mod
        from stream_loader_spark.sinks.upsert import UpsertSink

        opened = []

        def counting_open(path, *args, **kwargs):
            opened.append(os.path.basename(path))
            return open(path, *args, **kwargs)

        monkeypatch.setattr(manifest_mod, "open", counting_open, raising=False)
        schema = "k long, val string, ver long"
        real = 5000  # the real commit's batch id, above both counts
        published = {}
        for n_batches in (100, 1000):
            sink = UpsertSink(str(tmp_path / f"s{n_batches}"), ["k"], "ver", num_buckets=4)
            sink.write_batch(spark.createDataFrame([(k, "a", 1) for k in range(16)], schema), 0)
            for b in range(1, n_batches):
                # what a commit touching every bucket publishes, and the
                # (here empty) delta directory its record names
                sink.log.append(b, {"batch_id": b, "buckets": [0, 1, 2, 3]})
                os.makedirs(sink._version_dir("v", b))

            opened.clear()
            assert not sink.is_batch_committed(real)
            assert not [n for n in opened if n.startswith("batch-")]

            sink.write_batch(spark.createDataFrame([(3, "b", 2)], schema), real)
            published[n_batches] = os.path.getsize(sink.log.record_path(real))

            sink.vacuum(keep_last=2)
            opened.clear()
            versions = sink.bucket_versions()
            assert sorted(opened) == [
                f"batch-{real:020d}.json",
                f"compaction-{n_batches - 1:020d}.json",
            ]
            assert real in versions.values()
        assert published[100] == published[1000]

    def test_upsert_commit_log_reads_do_not_grow_with_committed_batches(
        self, spark, tmp_path, monkeypatch
    ):
        """A commit reuses the fold its sink kept from its own last
        commit: after 100 or 1,000 records the next commit opens the
        same number of records (none), and the log it leaves folds to
        the same versions a fresh reader sees."""
        from stream_loader_spark.sinks import manifest as manifest_mod
        from stream_loader_spark.sinks.upsert import UpsertSink

        opened = []

        def counting_open(path, *args, **kwargs):
            opened.append(os.path.basename(path))
            return open(path, *args, **kwargs)

        monkeypatch.setattr(manifest_mod, "open", counting_open, raising=False)
        schema = "k long, val string, ver long"
        real = 5000
        counts, sinks = {}, {}
        for n_batches in (100, 1000):
            sink = UpsertSink(str(tmp_path / f"s{n_batches}"), ["k"], "ver", num_buckets=4)
            sink.write_batch(spark.createDataFrame([(k, "a", 1) for k in range(16)], schema), 0)
            for b in range(1, n_batches):
                sink.log.append(b, {"batch_id": b, "buckets": [0, 1, 2, 3]})
            # records another writer appended: this commit refolds
            sink.write_batch(spark.createDataFrame([(3, "b", 2)], schema), real)
            opened.clear()
            sink.write_batch(spark.createDataFrame([(4, "c", 3)], schema), real + 1)
            counts[n_batches] = len(opened)
            sinks[n_batches] = sink
        assert counts[100] == counts[1000] == 0, counts
        for sink in sinks.values():
            versions = UpsertSink(sink.path, ["k"], "ver", num_buckets=4).bucket_versions()
            assert real + 1 in versions.values()
            fresh = UpsertSink(sink.path, ["k"], "ver", num_buckets=4)
            assert sink._fold[1] == fresh._schema(fresh._records())


    @pytest.mark.parametrize("kind", ["inrow", "external"])
    @pytest.mark.parametrize("n_batches", [100, 1000])
    def test_offsets_replay_check_after_maintenance_does_not_grow(
        self, spark, tmp_path, monkeypatch, kind, n_batches
    ):
        """The offsets sinks' replay check lists the whole log for an id
        it has no record for. After ``compact`` and ``vacuum`` that log
        is one compaction record, however many batches committed: the
        check lists one name and opens at most that record."""
        from stream_loader_spark.sinks import manifest as manifest_mod

        if kind == "inrow":
            sink = InRowOffsetsSink(str(tmp_path / "out"))
        else:
            sink = ExternalOffsetsSink(
                str(tmp_path / "data"), str(tmp_path / "offsets"), consumer_group="cg1"
            )
        for b in range(n_batches):  # dataless commits (heartbeat batches)
            sink.store.commit(b, {part: 0 for part in sink.store.parts})
        sink.compact(spark)
        sink.vacuum()

        opened, listed = [], []
        real_listdir = os.listdir

        def counting_open(path, *args, **kwargs):
            opened.append(os.path.basename(path))
            return open(path, *args, **kwargs)

        def counting_listdir(path):
            names = real_listdir(path)
            listed.append(len(names))
            return names

        monkeypatch.setattr(manifest_mod, "open", counting_open, raising=False)
        monkeypatch.setattr(os, "listdir", counting_listdir)
        assert sink.is_batch_committed(n_batches // 2)  # folded, vacuumed
        assert not sink.is_batch_committed(n_batches)
        assert listed == [1, 1] and len(opened) == 2, (listed, opened)


class TestBackfillThenStream:
    def test_bootstrap_from_history_then_stream_continues(self, spark, stream_env):
        """SURVEY §3.3: load historical data as a bounded backfill batch,
        then start the stream — one manifest, continuous positions."""
        sink = ManifestFileSink(stream_env["out"])
        history = as_stream_records(
            load_table(spark, "/root/testdata/sf0.001", "events")
        ).withColumn("offset", F.col("offset") - 500_000)  # older offsets

        # bounded backfill committed under a reserved pre-stream batch id
        sink.write_batch(history, -1)
        assert sink.is_batch_committed(-1)
        n = history.count()
        assert sink.committed_data(spark).count() == n

        # now the live stream appends through the same sink
        run_pipeline(spark, stream_env, sink)
        total = sink.committed_data(spark)
        assert total.count() == 2 * n
        # positions reflect the LIVE stream's maxima (backfill is older)
        pos = sink.committed_positions()
        assert all(p.offset > 0 for p in pos.values())


class TestBackfillAfterCompaction:
    def test_late_backfill_survives_watermark_and_vacuum(self, spark, stream_env):
        """A reserved NEGATIVE backfill id written AFTER a compaction
        exists must commit (not be swallowed by the non-negative
        supersession watermark), stay live across vacuum, and fold into
        the NEXT compaction like any other batch."""
        sink = ManifestFileSink(stream_env["out"])
        batch = as_stream_records(load_table(spark, "/root/testdata/sf0.001", "events"))
        n = batch.count()
        for i in range(3):
            sink.write_batch(
                batch.withColumn("offset", F.col("offset") + F.lit(i * 10_000)), i
            )
        assert sink.compact_data(spark) is not None
        sink.vacuum()
        assert sink.committed_data(spark).count() == 3 * n

        # late historical backfill under the reserved pre-stream id
        history = batch.withColumn("offset", F.col("offset") - F.lit(500_000))
        assert not sink.is_batch_committed(-1)  # watermark must NOT cover it
        sink.write_batch(history, -1)
        assert sink.is_batch_committed(-1)
        assert sink.committed_data(spark).count() == 4 * n

        # vacuum must not reclaim the still-live (never-folded) backfill
        assert sink.vacuum() == []
        assert sink.committed_data(spark).count() == 4 * n

        # the next compaction folds it; only THEN do replays become
        # no-ops and vacuum reclaim it
        assert sink.compact_data(spark) is not None
        sink.vacuum()
        assert sink.committed_data(spark).count() == 4 * n
        assert sink.is_batch_committed(-1)  # remembered via replaces_neg
        sink.write_batch(history, -1)  # replay after vacuum: no-op
        assert sink.committed_data(spark).count() == 4 * n

    def test_compaction_id_collision_with_future_stream_batch(self, spark, tmp_path):
        """Exactly-once must survive a compaction record whose id
        collides with a LATER real stream batch id: batches 0-2 →
        compaction record 2; a backfill-only compaction then takes id
        3 (max live id + 1); the stream's next batch is ALSO 3. The
        next compaction must still raise ``replaces_upto`` over the
        real batch 3 (the record-is-a-compaction test, not id
        membership) so its manifest record is superseded — otherwise
        its rows are double-read forever and vacuum can never reclaim
        it."""
        from datetime import datetime, timezone

        ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
        schema = "topic string, partition int, offset bigint, ts timestamp"
        sink = ManifestFileSink(str(tmp_path / "out"))
        per = 5

        def rows(base):
            return spark.createDataFrame(
                [("t", 0, base + j, ts) for j in range(per)], schema
            )

        for b in range(3):
            sink.write_batch(rows(b * 10), b)
        assert sink.compact_data(spark) is not None  # record id 2
        sink.vacuum()

        # late backfill, then a backfill-only compaction → record id 3
        sink.write_batch(rows(-1000), -1)
        assert sink.compact_data(spark) is not None
        sink.vacuum()
        import glob
        import json as _json

        (comp,) = glob.glob(str(tmp_path / "out" / "_manifest" / "compaction-*.json"))
        assert _json.loads(open(comp).read())["batch_id"] == 3  # the collision setup

        # the stream resumes: its next micro-batch id is ALSO 3
        assert not sink.is_batch_committed(3)  # must not be swallowed
        sink.write_batch(rows(30), 3)
        assert sink.committed_data(spark).count() == 5 * per

        # folding compaction must supersede the REAL batch 3
        assert sink.compact_data(spark) is not None
        assert sink.committed_data(spark).count() == 5 * per  # no double-read
        rec = max(
            (
                _json.loads(open(p).read())
                for p in glob.glob(
                    str(tmp_path / "out" / "_manifest" / "compaction-*.json")
                )
            ),
            key=lambda r: r["batch_id"],
        )
        assert rec["replaces_upto"] == 3
        removed = sink.vacuum()
        assert any("batch=3" in d for d in removed)  # reclaimable again
        assert len(sink.committed_batches()) == 1
        assert sink.committed_data(spark).count() == 5 * per
        assert sink.is_batch_committed(3)  # replay after vacuum: no-op
        sink.write_batch(rows(30), 3)
        assert sink.committed_data(spark).count() == 5 * per

    def test_legacy_replaces_list_with_negative_ids(self, spark, stream_env):
        """A legacy compaction record enumerating ``replaces`` with a
        negative id is refused by the replay check of a reserved id and
        by vacuum, not read with its old semantics."""
        import json as _json

        sink = ManifestFileSink(stream_env["out"])
        batch = as_stream_records(load_table(spark, "/root/testdata/sf0.001", "events"))
        sink.write_batch(batch, -1)
        sink.write_batch(batch.withColumn("offset", F.col("offset") + F.lit(10_000)), 0)
        assert sink.compact_data(spark) is not None
        # rewrite the compaction record in the LEGACY enumerated form
        mdir = os.path.join(stream_env["out"], "_manifest")
        (comp,) = [f for f in os.listdir(mdir) if f.startswith("compaction-")]
        with open(os.path.join(mdir, comp)) as f:
            rec = _json.load(f)
        rec["replaces"] = [-1, 0]
        del rec["replaces_upto"], rec["replaces_neg"]
        with open(os.path.join(mdir, comp), "w") as f:
            _json.dump(rec, f)

        with pytest.raises(ValueError, match="rebuild"):
            sink.is_batch_committed(-2)
        with pytest.raises(ValueError, match="rebuild"):
            sink.vacuum()
        # nothing was deleted
        assert sorted(f for f in os.listdir(mdir) if f.startswith("batch-")) == [
            os.path.basename(sink.log.record_path(b)) for b in (-1, 0)
        ]


class TestPartialWriteInvisibility:
    def test_inrow_recovery_ignores_partial_batch_dir(self, spark, stream_env):
        sink = InRowOffsetsSink(stream_env["out"])
        batch = as_stream_records(load_table(spark, "/root/testdata/sf0.001", "events"))
        sink(batch, 0)
        pos_before = sorted(map(tuple, sink.committed_positions(spark).collect()))

        # a batch whose write completed (_SUCCESS and all) but whose
        # commit record was never appended
        partial = sink.store.batch_dir("data", 99)
        batch.withColumn("offset", F.col("offset") + 10_000_000).select(
            F.col("topic").alias("_topic"),
            F.col("partition").alias("_partition"),
            F.col("offset").alias("_offset"),
            F.col("ts").alias("_watermark"),
        ).write.mode("overwrite").parquet(partial)
        assert os.path.exists(os.path.join(partial, "_SUCCESS"))
        assert not sink.is_batch_committed(99)

        # recovery must not be steered past records that never committed
        assert sorted(map(tuple, sink.committed_positions(spark).collect())) == pos_before
        assert sink.table(spark).count() == batch.count()

    def test_external_offsets_recovery_ignores_partial_dir(self, spark, stream_env, tmp_path):
        sink = ExternalOffsetsSink(
            str(tmp_path / "data"), str(tmp_path / "offsets"), consumer_group="cg1"
        )
        batch = as_stream_records(load_table(spark, "/root/testdata/sf0.001", "events"))
        sink(batch, 0)
        pos_before = sorted(map(tuple, sink.committed_positions(spark).collect()))

        # a batch whose offsets write completed (_SUCCESS and all) but
        # whose commit record was never appended
        partial = sink.store.batch_dir("offsets", 99)
        spark.createDataFrame(
            [(99, "cg1", "t", 0, 0, 99_999_999, None)],
            "_batch_id long, _consumer_group string, _topic string, _partition int, "
            "_start_offset long, _end_offset long, _end_watermark timestamp",
        ).write.mode("overwrite").parquet(partial)
        assert os.path.exists(os.path.join(partial, "_SUCCESS"))
        assert not sink.is_batch_committed(99)

        assert sorted(map(tuple, sink.committed_positions(spark).collect())) == pos_before


class TestSchemaEvolution:
    def test_added_column_merges_across_batches(self, spark, tmp_path):
        sink = ManifestFileSink(str(tmp_path / "out"), meta_cols=None)
        sink.write_batch(
            spark.createDataFrame([("t", 0, 1)], "topic string, partition int, offset bigint"),
            0,
        )
        sink.write_batch(
            spark.createDataFrame(
                [("t", 0, 2, "new")],
                "topic string, partition int, offset bigint, extra string",
            ),
            1,
        )
        data = sink.committed_data(spark)
        assert set(data.columns) == {"topic", "partition", "offset", "extra"}
        rows = {r["offset"]: r["extra"] for r in data.collect()}
        assert rows == {1: None, 2: "new"}  # old rows NULL-fill the new column


class TestKillMidStream:
    def test_stop_between_batches_then_resume_exactly_once(self, spark, tmp_path):
        """The reference's stop/restart-continues scenario under load:
        many single-file micro-batches, query killed mid-run, restart
        finishes the backlog with no loss and no duplicates."""
        import time
        from datetime import datetime, timezone

        src = str(tmp_path / "src")
        schema = "topic string, partition int, offset bigint, ts timestamp"
        ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
        n_files, per_file = 6, 50
        for i in range(n_files):
            spark.createDataFrame(
                [("t", 0, i * per_file + j, ts) for j in range(per_file)], schema
            ).coalesce(1).write.parquet(os.path.join(src, f"f{i}"))

        sink = ManifestFileSink(str(tmp_path / "out"))
        pipe = (
            StreamPipeline(spark)
            .from_file_stream(os.path.join(src, "*"), schema, maxFilesPerTrigger=1)
            .sink(sink, str(tmp_path / "cp"))
        )
        q = pipe.trigger(availableNow=True).start()
        # kill as soon as at least one batch committed but before all six
        for _ in range(200):
            if len(sink.committed_batches()) >= 2:
                break
            time.sleep(0.1)
        q.stop()
        q.awaitTermination(60)
        # on a fast machine all batches may already be done (degrades to a
        # plain restart test); on a slow one possibly none — both still
        # verify exactly-once below
        done_before = len(sink.committed_batches())
        assert 0 <= done_before <= n_files

        # resume from the same checkpoint: backlog drains exactly once
        pipe2 = (
            StreamPipeline(spark)
            .from_file_stream(os.path.join(src, "*"), schema, maxFilesPerTrigger=1)
            .sink(sink, str(tmp_path / "cp"))
        )
        pipe2.run_available()
        data = sink.committed_data(spark)
        assert data.count() == n_files * per_file
        assert data.select("offset").distinct().count() == n_files * per_file
        pos = sink.committed_positions()
        assert pos[("t", 0)].offset == n_files * per_file


class TestCompactionSchemaEvolution:
    def test_compaction_preserves_evolved_schema(self, spark, tmp_path):
        """Compacting batches with differing schemas must keep the
        later-added column (the read merges schemas exactly like
        committed_data) — dropping it would be irreversible after
        vacuum()."""
        sink = ManifestFileSink(str(tmp_path / "out"), meta_cols=None)
        sink.write_batch(
            spark.createDataFrame([("t", 0, 1)], "topic string, partition int, offset bigint"),
            0,
        )
        sink.write_batch(
            spark.createDataFrame(
                [("t", 0, 2, "new")],
                "topic string, partition int, offset bigint, extra string",
            ),
            1,
        )
        assert sink.compact_data(spark) is not None
        sink.vacuum()
        data = sink.committed_data(spark)
        assert set(data.columns) == {"topic", "partition", "offset", "extra"}
        rows = {r["offset"]: r["extra"] for r in data.collect()}
        assert rows == {1: None, 2: "new"}


class TestIcebergTransactionSeam:
    """The Iceberg runtime is absent here, so the single-transaction
    commit path is exercised against a scripted Java-table double: the
    test pins the CALL SEQUENCE the reference requires
    (iceberg/IcebergRecordBatchStorage.scala:47-64) — properties and
    appends staged on ONE transaction, exactly one commitTransaction,
    and no table-level (non-transactional) commits."""

    def _make_sink(self, spark, tmp_path, monkeypatch):
        from stream_loader_spark.sinks import iceberg as mod

        monkeypatch.setattr(mod, "iceberg_available", lambda _s: True)
        return mod.IcebergOffsetsSink(spark, "cat.db.t", "cg-1")

    def test_transactional_commit_call_sequence(self, spark, tmp_path, monkeypatch):
        from unittest.mock import MagicMock

        sink = self._make_sink(spark, tmp_path, monkeypatch)
        loc = str(tmp_path / "table")
        jtable = MagicMock(name="jtable")
        jtable.location.return_value = loc
        txn = jtable.newTransaction.return_value
        monkeypatch.setattr(sink, "_load_java_table", lambda: jtable)
        monkeypatch.setattr(sink, "_jvm", lambda: MagicMock(name="jvm"))

        data = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
        props = {"__consumer_offset:cg-1:t:0": "41:1700000000000"}
        sink._transactional_commit(data, props)

        # staged parquet really written under the table location
        staged = [
            d for d in os.listdir(os.path.join(loc, "data"))
            if d.startswith("_staging-")
        ]
        assert len(staged) == 1

        # properties staged on the transaction, not on the table
        txn.updateProperties.return_value.set.assert_called_once_with(
            "__consumer_offset:cg-1:t:0", "41:1700000000000"
        )
        txn.updateProperties.return_value.commit.assert_called_once()
        jtable.updateProperties.assert_not_called()

        # every staged file appended on the SAME transaction
        append = txn.newAppend.return_value
        n_parts = len(
            [
                f
                for f in os.listdir(os.path.join(loc, "data", staged[0]))
                if f.endswith(".parquet")
            ]
        )
        assert n_parts >= 1
        assert append.appendFile.call_count == n_parts
        append.commit.assert_called_once()
        jtable.newAppend.assert_not_called()

        # the one atomic commit point
        txn.commitTransaction.assert_called_once()

    def test_replay_guard_boundary(self, spark, tmp_path, monkeypatch):
        """A range that ends AT the committed next offset is not
        committed: that offset is the next record to consume."""
        from stream_loader_spark.model.position import StreamPosition

        sink = self._make_sink(spark, tmp_path, monkeypatch)
        monkeypatch.setattr(
            sink, "committed_positions", lambda: {("t", 0): StreamPosition(42, 0)}
        )
        rng = {"topic": "t", "partition": 0}
        assert sink.is_batch_committed([dict(rng, end_offset=41)])
        assert not sink.is_batch_committed([dict(rng, end_offset=42)])

    def test_partitioned_table_refuses_staged_parquet_path(self, spark, tmp_path, monkeypatch):
        """Staged plain parquet carries no partition tuple: the
        transaction path must bail to the Iceberg-aware fallback BEFORE
        writing anything."""
        from unittest.mock import MagicMock

        from stream_loader_spark.sinks.iceberg import _TransactionUnsupported

        sink = self._make_sink(spark, tmp_path, monkeypatch)
        loc = str(tmp_path / "table")
        jtable = MagicMock(name="jtable")
        jtable.location.return_value = loc
        jtable.spec.return_value.isUnpartitioned.return_value = False
        monkeypatch.setattr(sink, "_load_java_table", lambda: jtable)
        monkeypatch.setattr(sink, "_jvm", lambda: MagicMock(name="jvm"))

        data = spark.createDataFrame([(1, "a")], "id bigint, v string")
        with pytest.raises(_TransactionUnsupported, match="partition"):
            sink._transactional_commit(data, {})
        jtable.newTransaction.assert_not_called()
        assert not os.path.exists(os.path.join(loc, "data"))  # nothing staged

    def test_missing_name_mapping_is_set_in_same_transaction(self, spark, tmp_path, monkeypatch):
        """Files registered without Iceberg field IDs are only readable
        via a name mapping — when the table lacks one it must be derived
        and land in the SAME transaction as the files."""
        from unittest.mock import MagicMock

        sink = self._make_sink(spark, tmp_path, monkeypatch)
        loc = str(tmp_path / "table")
        jtable = MagicMock(name="jtable")
        jtable.location.return_value = loc
        jtable.spec.return_value.isUnpartitioned.return_value = True
        jtable.properties.return_value.containsKey.return_value = False
        jvm = MagicMock(name="jvm")
        jvm.org.apache.iceberg.mapping.NameMappingParser.toJson.return_value = '{"mapped":1}'
        monkeypatch.setattr(sink, "_load_java_table", lambda: jtable)
        monkeypatch.setattr(sink, "_jvm", lambda: jvm)

        data = spark.createDataFrame([(1, "a")], "id bigint, v string")
        sink._transactional_commit(data, {})

        jvm.org.apache.iceberg.mapping.MappingUtil.create.assert_called_once_with(
            jtable.schema()
        )
        txn = jtable.newTransaction.return_value
        txn.updateProperties.return_value.set.assert_called_once_with(
            "schema.name-mapping.default", '{"mapped":1}'
        )
        txn.updateProperties.return_value.commit.assert_called_once()
        txn.commitTransaction.assert_called_once()

    def test_unsupported_runtime_raises_marker(self, spark, tmp_path, monkeypatch):
        from stream_loader_spark.sinks.iceberg import _TransactionUnsupported

        sink = self._make_sink(spark, tmp_path, monkeypatch)
        with pytest.raises(_TransactionUnsupported):
            sink._load_java_table()  # no Iceberg classes on this classpath

    def test_property_sql_escaping(self):
        from stream_loader_spark.sinks.iceberg import sql_str_literal

        assert sql_str_literal("plain") == "'plain'"
        assert sql_str_literal("o'brien:topic") == "'o''brien:topic'"


class TestClickHouseHttpStorage:
    """K7: exactly-once ClickHouse inserts over HTTP, tested against a
    local recording http.server double — the executors POST to
    127.0.0.1 for real (stdlib urllib travels to workers)."""

    @pytest.fixture()
    def ch_server(self):
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
        from urllib.parse import urlparse, parse_qs

        requests = []
        select_response = {"data": []}
        # fault injection: fail the next N INSERTs with HTTP 500 (the
        # "ClickHouse died mid-batch" scenario); SELECTs never fail
        control = {"fail_next_inserts": 0}

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                q = parse_qs(urlparse(self.path).query)
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                query = q.get("query", [""])[0]
                requests.append(
                    {
                        "query": query,
                        "token": q.get("insert_deduplication_token", [None])[0],
                        "body": body,
                        "encoding": self.headers.get("Content-Encoding"),
                        "params": q,
                    }
                )
                if query.startswith("INSERT") and control["fail_next_inserts"] > 0:
                    control["fail_next_inserts"] -= 1
                    err = b"Code: 999. DB::Exception: injected mid-insert failure"
                    self.send_response(500)
                    self.send_header("Content-Length", str(len(err)))
                    self.end_headers()
                    self.wfile.write(err)
                    return
                payload = (
                    json.dumps(select_response).encode()
                    if query.startswith("SELECT")
                    else b""
                )
                self.send_response(200)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *a):  # quiet
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        thread = threading.Thread(target=srv.serve_forever, daemon=True)
        thread.start()
        yield {
            "url": f"http://127.0.0.1:{srv.server_address[1]}",
            "requests": requests,
            "select_response": select_response,
            "control": control,
        }
        srv.shutdown()

    def _storage(self, url, **kw):
        from stream_loader_spark.functions.rowbinary import CHType, RowBinaryEncoder
        from stream_loader_spark.sinks.clickhouse import ClickHouseHttpStorage

        enc = RowBinaryEncoder(
            [
                ("topic", CHType("String")),
                ("partition", CHType("Int32")),
                ("offset", CHType("Int64")),
                ("value", CHType("Float64")),
            ]
        )
        kw.setdefault("verify_dedup", False)  # probe tested separately
        return ClickHouseHttpStorage(url, "db.events", enc, **kw)

    def _batch(self, spark, n=10):
        from datetime import datetime, timezone

        ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
        return spark.createDataFrame(
            [("t", i % 2, i, float(i), ts) for i in range(n)],
            "topic string, partition int, offset bigint, value double, ts timestamp",
        )

    def test_recovery_query_text_is_golden(self, ch_server):
        """Pins the exact A1 recovery SQL issued over HTTP — the Spark
        rendering of ClickHouseFileStorage.scala:38-47 (same MAX+1 /
        MAX(watermark) aggregate, same isNotNull guard; aliases,
        toUnixTimestamp64Milli and FORMAT JSON are the HTTP-protocol
        additions). A drift here silently changes crash recovery."""
        storage = self._storage(ch_server["url"])
        storage.committed_positions()
        assert ch_server["requests"][-1]["query"] == (
            "SELECT _topic AS topic, _partition AS partition, "
            "max(_offset) + 1 AS next_offset, "
            "toUnixTimestamp64Milli(max(_watermark)) AS watermark_ms "
            "FROM db.events "
            "WHERE isNotNull(_topic) AND isNotNull(_partition) "
            "GROUP BY _topic, _partition FORMAT JSON"
        )

    def test_insert_posts_tokened_rowbinary_blocks(self, spark, ch_server):
        storage = self._storage(ch_server["url"])
        storage(self._batch(spark), 0)
        inserts = [r for r in ch_server["requests"] if r["query"].startswith("INSERT")]
        assert len(inserts) == 2  # exactly one block per (topic, partition)
        assert all(r["query"] == "INSERT INTO db.events FORMAT RowBinary" for r in inserts)
        assert all(r["token"] for r in inserts)
        # every row is 2 (leb128 len + 't') + 4 + 8 + 8 = 22 bytes
        assert sum(len(r["body"]) for r in inserts) == 10 * 22

    def test_replayed_batch_reuses_tokens(self, spark, ch_server):
        storage = self._storage(ch_server["url"])
        storage.insert_batch(self._batch(spark))
        first = sorted(r["token"] for r in ch_server["requests"])
        ch_server["requests"].clear()
        storage.insert_batch(self._batch(spark))
        second = sorted(r["token"] for r in ch_server["requests"])
        # range-derived tokens: ClickHouse sees identical dedup tokens
        # on replay and drops the blocks
        assert first == second

    def test_tokens_survive_shuffle_partition_config_change(self, spark, ch_server):
        """The dedup token derives from the (topic, partition) offset
        range ONLY — re-running the same batch under a different
        shuffle-partition config must produce the same tokens, or a
        config change between run and replay defeats dedup."""
        storage = self._storage(ch_server["url"])
        before = spark.conf.get("spark.sql.shuffle.partitions")
        storage.insert_batch(self._batch(spark))
        first = sorted(r["token"] for r in ch_server["requests"])
        ch_server["requests"].clear()
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            storage.insert_batch(self._batch(spark))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
        second = sorted(r["token"] for r in ch_server["requests"])
        assert first == second

    def test_http_500_mid_insert_then_token_replay_is_idempotent(
        self, spark, ch_server
    ):
        """K7 fault injection: one of the batch's blocks lands, the
        other dies with an HTTP 500. The sink must (a) surface the
        failure so the streaming engine retries the batch, (b) drop its
        driver-side position cache and re-run the A1 recovery query on
        the retry, and (c) re-send the retried batch with byte-identical
        dedup tokens so ClickHouse silently drops the block that already
        landed — the reference's deduplicationToken(recordRanges)
        semantics (ClickHouseFileStorage.scala:67-75): a replay is a
        server-side no-op, never a duplicate."""
        storage = self._storage(ch_server["url"])
        batch = self._batch(spark)
        ch_server["control"]["fail_next_inserts"] = 1

        with pytest.raises(Exception):
            storage(batch, 0)
        assert ch_server["control"]["fail_next_inserts"] == 0  # injected
        first_tokens = {
            r["token"]
            for r in ch_server["requests"]
            if r["query"].startswith("INSERT")
        }
        assert first_tokens  # at least the failed block was attempted
        assert storage._positions_cache is None  # cache dropped on failure
        ch_server["requests"].clear()

        # retried batch: recovery re-runs, then BOTH blocks re-post
        # with the same tokens and commit
        storage(batch, 0)
        replay = ch_server["requests"]
        selects = [r for r in replay if r["query"].startswith("SELECT")]
        inserts = [r for r in replay if r["query"].startswith("INSERT")]
        assert selects, "retry must re-seed positions via the A1 recovery query"
        assert len(inserts) == 2  # one block per (topic, partition)
        assert first_tokens <= {r["token"] for r in inserts}
        assert storage._positions_cache  # cache re-seeded and advanced

    def test_insert_sends_dedup_settings(self, spark, ch_server):
        storage = self._storage(ch_server["url"])
        storage.insert_batch(self._batch(spark))
        inserts = [r for r in ch_server["requests"] if r["query"].startswith("INSERT")]
        assert inserts and all(r["params"]["insert_deduplicate"] == ["1"] for r in inserts)
        assert all(
            r["params"]["deduplicate_blocks_in_dependent_materialized_views"] == ["1"]
            for r in inserts
        )

    def test_dedup_probe_accepts_replicated_and_windowed_tables(self, spark, ch_server):
        storage = self._storage(ch_server["url"], verify_dedup=True)
        ch_server["select_response"]["data"] = [
            {"engine": "ReplicatedMergeTree", "engine_full": "ReplicatedMergeTree(...)"}
        ]
        storage.check_dedup_support()  # no raise
        ch_server["select_response"]["data"] = [
            {
                "engine": "MergeTree",
                "engine_full": "MergeTree ORDER BY offset "
                "SETTINGS non_replicated_deduplication_window = 100",
            }
        ]
        storage.check_dedup_support()  # no raise

    def test_dedup_probe_rejects_windowless_mergetree(self, spark, ch_server):
        """Plain MergeTree with the DEFAULT window (0) silently ignores
        dedup tokens — the storage must refuse to pretend exactly-once."""
        storage = self._storage(ch_server["url"], verify_dedup=True)
        ch_server["select_response"]["data"] = [
            {"engine": "MergeTree", "engine_full": "MergeTree ORDER BY offset"}
        ]
        with pytest.raises(RuntimeError, match="non_replicated_deduplication_window"):
            storage.check_dedup_support()

    def test_gzip_content_encoding(self, spark, ch_server):
        storage = self._storage(ch_server["url"], compress=True)
        storage.insert_batch(self._batch(spark))
        inserts = [r for r in ch_server["requests"] if r["query"].startswith("INSERT")]
        assert inserts and all(r["encoding"] == "gzip" for r in inserts)
        import gzip as _gz

        assert sum(len(_gz.decompress(r["body"])) for r in inserts) == 10 * 22

    def test_committed_positions_roundtrip(self, spark, ch_server):
        ch_server["select_response"]["data"] = [
            {"topic": "t", "partition": 0, "next_offset": 9, "watermark_ms": 1704067200000},
            {"topic": "t", "partition": 1, "next_offset": 10, "watermark_ms": 1704067200000},
        ]
        storage = self._storage(ch_server["url"])
        pos = storage.committed_positions()
        assert pos[("t", 0)].offset == 9 and pos[("t", 1)].offset == 10
        sel = [r for r in ch_server["requests"] if r["query"].startswith("SELECT")]
        assert "GROUP BY _topic, _partition" in sel[0]["query"]

    def test_replay_guard_skips_committed_batch(self, spark, ch_server):
        ch_server["select_response"]["data"] = [
            {"topic": "t", "partition": 0, "next_offset": 100, "watermark_ms": 0},
            {"topic": "t", "partition": 1, "next_offset": 100, "watermark_ms": 0},
        ]
        storage = self._storage(ch_server["url"])
        storage(self._batch(spark), 0)  # offsets 0..9 all behind 100
        inserts = [r for r in ch_server["requests"] if r["query"].startswith("INSERT")]
        assert inserts == []


class TestDbTransactionalSink:
    """K8/K9 one-transaction contract against real sqlite3: data +
    offsets land together or not at all; replays are no-ops; recovery
    is the A3 aggregation over the offsets table."""

    def _sink(self, tmp_path):
        from stream_loader_spark.sinks.dbtxn import DbTransactionalSink, sqlite_connect

        sink = DbTransactionalSink(
            sqlite_connect(str(tmp_path / "db.sqlite")),
            data_table="events",
            offsets_table="_offsets",
            consumer_group="cg1",
            data_cols=["topic", "partition", "offset", "value"],
        )
        sink.ensure_tables()
        return sink

    def _batch(self, spark, n=25, base=0):
        from datetime import datetime, timezone

        ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
        return spark.createDataFrame(
            [("t", i % 2, base + i, float(i), ts) for i in range(n)],
            "topic string, partition int, offset bigint, value double, ts timestamp",
        )

    def _counts(self, sink):
        con = sink.connect()
        try:
            d = con.execute("SELECT COUNT(*) FROM events").fetchone()[0]
            o = con.execute("SELECT COUNT(*) FROM _offsets").fetchone()[0]
            return d, o
        finally:
            con.close()

    def test_commit_then_replay_is_noop(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink(self._batch(spark), 0)
        assert self._counts(sink) == (25, 2)  # two partitions -> two ranges
        sink(self._batch(spark), 0)  # replay: guarded by A3 recovery
        assert self._counts(sink) == (25, 2)
        pos = sink.committed_positions()
        assert pos[("t", 0)].offset == 25 and pos[("t", 1)].offset == 24

    def test_crash_mid_transaction_leaves_nothing(self, spark, tmp_path, monkeypatch):
        sink = self._sink(tmp_path)
        boom = RuntimeError("db died mid-batch")

        def exploding_chunks(df):
            yield [("t", 0, 0, 0.0)]
            raise boom

        monkeypatch.setattr(sink, "_row_chunks", exploding_chunks)
        with pytest.raises(RuntimeError):
            sink(self._batch(spark), 0)
        # rollback: neither the inserted chunk nor any offsets visible
        assert self._counts(sink) == (0, 0)
        assert sink.committed_positions() == {}

        # recovery: the replayed batch commits cleanly
        monkeypatch.undo()
        sink(self._batch(spark), 0)
        assert self._counts(sink) == (25, 2)

    def test_second_batch_appends_and_advances_positions(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink(self._batch(spark), 0)
        sink(self._batch(spark, base=1000), 1)
        assert self._counts(sink) == (50, 4)
        pos = sink.committed_positions()
        assert pos[("t", 0)].offset == 1025
        # data <-> offsets joinable via _batch_id (the file-id FK)
        con = sink.connect()
        try:
            joined = con.execute(
                "SELECT COUNT(*) FROM events e JOIN _offsets o "
                "ON o._batch_id = e._batch_id AND o._topic = e.topic "
                "AND o._partition = e.partition"
            ).fetchone()[0]
        finally:
            con.close()
        assert joined == 50

    def test_max_rows_guard_fails_loud_and_leaves_nothing(self, spark, tmp_path):
        """The driver-NIC ceiling is fenced: a batch past max_rows_guard
        raises (pointing at the executor-parallel shape) BEFORE any row
        streams through the driver connection, and commits nothing —
        while a guarded sink still accepts batches under the limit."""
        from stream_loader_spark.sinks.dbtxn import DbTransactionalSink, sqlite_connect

        sink = DbTransactionalSink(
            sqlite_connect(str(tmp_path / "db.sqlite")),
            data_table="events",
            offsets_table="_offsets",
            consumer_group="cg1",
            data_cols=["topic", "partition", "offset", "value"],
            max_rows_guard=10,
        )
        sink.ensure_tables()
        with pytest.raises(ValueError, match="max_rows_guard"):
            sink(self._batch(spark, n=25), 0)
        assert self._counts(sink) == (0, 0)
        assert sink.committed_positions() == {}
        sink(self._batch(spark, n=10), 0)  # under the guard: commits
        assert self._counts(sink)[0] == 10

    def test_max_rows_guard_runs_no_job_of_its_own(self, spark, tmp_path):
        """The guard reads the row count off the collected ranges: a
        guarded commit runs the same jobs as an unguarded one."""
        from stream_loader_spark.sinks.dbtxn import DbTransactionalSink, sqlite_connect

        jobs = {}
        for guard in (None, 100):
            sink = DbTransactionalSink(
                sqlite_connect(str(tmp_path / f"db{guard}.sqlite")),
                data_table="events",
                offsets_table="_offsets",
                consumer_group="cg1",
                data_cols=["topic", "partition", "offset", "value"],
                max_rows_guard=guard,
            )
            sink.ensure_tables()
            with job_group(spark) as commit:
                sink(self._batch(spark), 0)
            jobs[guard] = len(commit.job_ids())
            assert self._counts(sink) == (25, 2)
        assert jobs[100] == jobs[None] > 0, jobs


class TestDbTxnPortability:
    """The DB-API seam is portable by PARAMETER, not by assumption:
    format-paramstyle engines (psycopg2/vertica-python) get %s
    statements and ANSI-typed DDL, and autocommit connections are
    forced into transaction mode."""

    class _CapCursor:
        def __init__(self, log):
            self.log = log

        def execute(self, sql, params=None):
            self.log.append(sql)

        def executemany(self, sql, rows):
            self.log.append(sql)

        def fetchall(self):
            return []

    class _Cap:
        """Statement-capturing DB-API double (format paramstyle).
        Faithful to DB-API 2.0: execute/executemany/fetchall live ONLY
        on cursors — psycopg2/vertica-python connections have no such
        methods, so a sink regressing to the sqlite3 connection-level
        shortcut fails this test with AttributeError."""

        def __init__(self, log):
            self.log = log
            self.autocommit = True  # e.g. a misconfigured psycopg2 conn

        def cursor(self):
            return TestDbTxnPortability._CapCursor(self.log)

        def commit(self):
            self.log.append("COMMIT")

        def rollback(self):
            self.log.append("ROLLBACK")

        def close(self):
            pass

    def test_format_paramstyle_statements_and_autocommit_off(self, spark):
        from datetime import datetime, timezone

        from stream_loader_spark.sinks.dbtxn import DbTransactionalSink

        log = []
        cons = []

        def connect():
            con = self._Cap(log)
            cons.append(con)
            return con

        sink = DbTransactionalSink(
            connect,
            data_table="events",
            offsets_table="_offsets",
            consumer_group="cg1",
            data_cols=["topic", "partition", "offset", "value"],
            param_token="%s",
            data_col_types={"topic": "VARCHAR(255)", "offset": "BIGINT"},
        )
        sink.ensure_tables()
        ddl = [s for s in log if s.startswith("CREATE")]
        assert "topic VARCHAR(255)" in ddl[0] and "_batch_id BIGINT" in ddl[0]
        assert "_partition INTEGER" in ddl[1]

        ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
        batch = spark.createDataFrame(
            [("t", 0, 1, 1.5, ts)],
            "topic string, partition int, offset bigint, value double, ts timestamp",
        )
        sink(batch, 7)
        inserts = [s for s in log if s.startswith("INSERT")]
        assert inserts, "no inserts captured"
        assert all("?" not in s for s in log), f"qmark leaked into: {log}"
        assert any("%s, %s, %s, %s, %s" in s for s in inserts)
        # every connection the sink opened had autocommit forced off
        assert all(c.autocommit is False for c in cons)


class TestClickHouseStreamingEndToEnd:
    def test_stream_then_restart_inserts_exactly_once(self, spark, tmp_path):
        """Full pipeline → ClickHouseHttpStorage: a file stream drains
        into tokened inserts; a second run from a fresh checkpoint
        replays the batch and the replay guard (fed by the recorded
        positions) skips it — no duplicate inserts."""
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
        from urllib.parse import urlparse, parse_qs
        from datetime import datetime, timezone

        from stream_loader_spark.functions.rowbinary import CHType, RowBinaryEncoder
        from stream_loader_spark.sinks.clickhouse import ClickHouseHttpStorage

        inserts = []
        positions = {"rows": []}

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                q = parse_qs(urlparse(self.path).query)
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                query = q.get("query", [""])[0]
                if query.startswith("INSERT"):
                    inserts.append(
                        {"token": q.get("insert_deduplication_token", [None])[0], "body": body}
                    )
                    payload = b""
                else:
                    payload = json.dumps({"data": positions["rows"]}).encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *a):
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}"
            enc = RowBinaryEncoder(
                [
                    ("topic", CHType("String")),
                    ("partition", CHType("Int32")),
                    ("offset", CHType("Int64")),
                    ("value", CHType("Float64")),
                ]
            )
            storage = ClickHouseHttpStorage(url, "db.events", enc, verify_dedup=False)

            src = str(tmp_path / "src")
            ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
            schema = "topic string, partition int, offset bigint, value double, ts timestamp"
            spark.createDataFrame(
                [("t", i % 2, i, float(i), ts) for i in range(40)], schema
            ).coalesce(1).write.parquet(os.path.join(src, "f0"))

            (
                StreamPipeline(spark)
                .from_file_stream(os.path.join(src, "*"), schema)
                .sink(storage, str(tmp_path / "cp1"))
                .run_available()
            )
            n_first = len(inserts)
            assert n_first == 2  # one block per (topic, partition)
            assert sum(len(r["body"]) for r in inserts) == 40 * 22  # every row once

            # the "database" now knows the committed positions
            positions["rows"] = [
                {"topic": "t", "partition": 0, "next_offset": 39, "watermark_ms": 0},
                {"topic": "t", "partition": 1, "next_offset": 40, "watermark_ms": 0},
            ]
            # fresh checkpoint = full replay of the same file; the replay
            # guard must skip the committed batch
            (
                StreamPipeline(spark)
                .from_file_stream(os.path.join(src, "*"), schema)
                .sink(storage, str(tmp_path / "cp2"))
                .run_available()
            )
            assert len(inserts) == n_first  # no new inserts
        finally:
            srv.shutdown()


class TestCommitMetrics:
    def test_commit_timer_and_partition_counters(self, spark, tmp_path):
        """A7-adjacent sinker metrics (RecordBatchingSinker.scala:175-208):
        per-(topic, partition) records written and commit durations,
        derived from the committed ranges — replays must not double-count."""
        from datetime import datetime, timezone

        from stream_loader_spark.sinks.manifest import ManifestFileSink

        sink = ManifestFileSink(str(tmp_path / "out"))
        ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
        rows = [("t", 0, o, ts) for o in range(5)] + [("t", 1, o, ts) for o in range(3)]
        df = spark.createDataFrame(
            rows, "topic string, partition int, offset bigint, ts timestamp"
        )
        sink(df, 0)
        written = {
            "sink.records-written.by.partition.topic{partition=0,topic=t}": 5.0,
            "sink.records-written.by.partition.topic{partition=1,topic=t}": 3.0,
        }
        m = sink.metrics.snapshot()
        assert m["sink.commits"] == 1
        assert {k: v for k, v in m.items() if "records-written" in k} == written
        assert m["sink.commit-ms-last"] >= 0
        assert m["sink.commit-ms-total"] >= m["sink.commit-ms-last"]

        sink(df, 0)  # replay: committed batch is a no-op, metrics unchanged
        assert sink.metrics.snapshot() == m

    def test_records_written_counts_records_not_offset_span(self, spark, tmp_path):
        """Dedup or watermark drops upstream, and compacted topics, leave
        offset gaps in a batch: offsets {0, 5} are 2 records written,
        not the 6 offsets their range spans."""
        from datetime import datetime, timezone

        from stream_loader_spark.sinks.manifest import ManifestFileSink

        sink = ManifestFileSink(str(tmp_path / "out"))
        ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
        df = spark.createDataFrame(
            [("t", 0, 0, ts), ("t", 0, 5, ts)],
            "topic string, partition int, offset bigint, ts timestamp",
        )
        sink(df, 0)
        key = "sink.records-written.by.partition.topic{partition=0,topic=t}"
        assert sink.metrics.snapshot()[key] == 2


class TestQuarantineRouting:
    def test_foreachbatch_routes_corrupt_payloads(self, spark, stream_env):
        """Dead-letter pattern: one parse pass per micro-batch, good
        rows to the typed sink, corrupt payloads (with their original
        record shape) to the quarantine dir for replay."""
        from stream_loader_spark.operators.projection import formatted_records_split

        good_dir = stream_env["out"] + "_good"
        bad_dir = stream_env["out"] + "_bad"

        def route(batch, batch_id):
            # two sinks = two actions: persist so the source scan +
            # parse run once per micro-batch, not once per sink
            corrupted = batch.withColumn(
                "props",
                F.when(
                    F.col("offset") % 17 == 0,
                    F.concat(F.lit("{"), F.col("props")),
                ).otherwise(F.col("props")),
            ).persist()
            try:
                good, bad = formatted_records_split(corrupted, "k INT")
                good.write.mode("append").parquet(good_dir)
                bad.write.mode("append").parquet(bad_dir)
            finally:
                corrupted.unpersist()

        (
            StreamPipeline(spark)
            .from_file_stream(os.path.join(stream_env["src"], "*"), STREAM_SCHEMA)
            .sink(route, stream_env["checkpoint"])
            .run_available()
        )

        good = spark.read.parquet(good_dir)
        bad = spark.read.parquet(bad_dir)
        n = stream_env["base_count"]
        n_bad = bad.count()
        assert good.count() + n_bad == n
        assert n_bad > 0
        # quarantine keeps the raw record shape for replay
        assert set(bad.columns) == {"topic", "partition", "offset", "ts", "value", "props"}
        assert bad.where(~(F.col("offset") % 17 == 0)).count() == 0
        # good rows actually parsed: the payload field is typed + non-null
        assert dict(good.dtypes)["k"] == "int"
        assert good.where(F.col("k").isNull()).count() == 0


class TestUpsertSink:
    def _sink(self, tmp_path, **kw):
        from stream_loader_spark.sinks.upsert import UpsertSink

        kw.setdefault("num_buckets", 8)
        return UpsertSink(str(tmp_path / "state"), ["k"], "ver", **kw)

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "k long, val string, ver long")

    def test_merge_semantics_and_bucket_pruning(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]), 0)
        v0 = sink.bucket_versions()
        sink.write_batch(self._df(spark, [(2, "B", 2), (4, "d", 2)]), 1)

        state = {r.k: r for r in sink.current_state(spark).collect()}
        assert {k: r.val for k, r in state.items()} == {1: "a", 2: "B", 3: "c", 4: "d"}

        # only the buckets containing keys 2 and 4 moved to version 1
        v1 = sink.bucket_versions()
        moved = {b for b, v in v1.items() if v == 1}
        assert 1 <= len(moved) <= 2
        for b, v in v0.items():
            if b not in moved:
                assert v1[b] == v  # untouched bucket kept its old version

    def test_commit_after_another_writer_refolds_the_log(self, spark, tmp_path):
        """A sink keeps the fold of its own last commit; a commit or a
        vacuum by another sink on the same state changes the log's
        listing, so the next commit reads the log again and merges
        against the other writer's versions."""
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(k, "a", 1) for k in range(16)]), 0)
        other = self._sink(tmp_path)
        other.write_batch(self._df(spark, [(k, "b", 2) for k in range(16)]), 1)
        sink.write_batch(self._df(spark, [(16, "c", 3)]), 2)
        other.write_batch(self._df(spark, [(k, "d", 4) for k in range(8)]), 3)
        other.vacuum(keep_last=1)
        sink.write_batch(self._df(spark, [(17, "e", 5)]), 4)
        state = {r.k: r.val for r in sink.current_state(spark).collect()}
        assert state == {
            **{k: "d" for k in range(8)},
            **{k: "b" for k in range(8, 16)},
            16: "c",
            17: "e",
        }

    def test_within_batch_ties_resolve_by_order_col(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(
            self._df(spark, [(1, "old", 5), (1, "new", 9), (1, "mid", 7)]), 0
        )
        [row] = sink.current_state(spark).collect()
        assert (row.val, row.ver) == ("new", 9)

    def test_replay_of_committed_batch_is_noop(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(1, "a", 1)]), 0)
        # a replay delivering DIFFERENT data for the same batch id must not apply
        sink.write_batch(self._df(spark, [(1, "corrupted-replay", 9)]), 0)
        [row] = sink.current_state(spark).collect()
        assert row.val == "a"

    def test_crash_between_data_and_manifest_then_replay(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(1, "a", 1), (2, "b", 1)]), 0)

        boom = RuntimeError("crash before manifest")
        original = sink.log.append
        calls = {"n": 0}

        def crashing(batch_id, record):
            calls["n"] += 1
            raise boom

        sink.log.append = crashing
        try:
            with pytest.raises(RuntimeError):
                sink.write_batch(self._df(spark, [(2, "B", 2)]), 1)
        finally:
            sink.log.append = original
        # data for v=1 may exist on disk but is invisible: manifest rules
        state = {r.k: r.val for r in sink.current_state(spark).collect()}
        assert state == {1: "a", 2: "b"}
        # replay commits cleanly over the half-written version dir
        sink.write_batch(self._df(spark, [(2, "B", 2)]), 1)
        state = {r.k: r.val for r in sink.current_state(spark).collect()}
        assert state == {1: "a", 2: "B"}

    def test_one_zstd_file_per_commit(self, spark, tmp_path):
        """A commit writes its delta as flat files, with no bucket
        directory, however many tasks the batch arrives in: one file
        with adaptive query execution on (the default), and at most
        ``num_buckets`` with it off (as for a batch from a plan with
        stateful streaming operators), even when there are more shuffle
        partitions than buckets."""
        confs = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
        for aqe in ("true", "false"):
            sink = self._sink(tmp_path / f"aqe_{aqe}")
            prev = {c: spark.conf.get(c) for c in confs}
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            spark.conf.set("spark.sql.shuffle.partitions", str(4 * sink.num_buckets))
            try:
                sink.write_batch(self._df(spark, [(k, "a", 1) for k in range(64)]).repartition(4), 0)
                sink.write_batch(
                    self._df(spark, [(k, "b", 2) for k in range(0, 64, 5)]).repartition(4), 1
                )
            finally:
                for c, v in prev.items():
                    spark.conf.set(c, v)
            touched = [b for b, v in sink.bucket_versions().items() if v == 1]
            assert len(touched) > 1
            names = os.listdir(sink._version_dir("v", 1))
            assert not [n for n in names if n.startswith("_bucket=")], names
            files = [n for n in names if n.endswith(".parquet")]
            assert all(f.endswith(".zstd.parquet") for f in files), files
            if aqe == "true":
                assert len(files) == 1, files
            else:
                assert 1 <= len(files) <= sink.num_buckets, files
            assert sink.current_state(spark).count() == 64

    def test_commit_on_existing_state_runs_at_most_two_jobs(self, spark, tmp_path):
        """A commit is one shuffled write of the batch's delta, which
        also observes the touched buckets; no job caches the batch,
        collects the bucket set, infers the stored schema or reads
        state."""
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(k, "a", 1) for k in range(64)]), 0)
        batch = self._df(spark, [(k, "b", 2) for k in range(0, 64, 5)])
        with job_group(spark) as commit:
            sink.write_batch(batch, 1)
        jobs = commit.job_ids()
        assert 1 <= len(jobs) <= 2, jobs
        state = {r.k: r.val for r in sink.current_state(spark).collect()}
        assert state == {k: "b" if k % 5 == 0 else "a" for k in range(64)}

    def test_null_order_value_still_updates_its_key(self, spark, tmp_path):
        """A batch row beats stored state whatever its order value; in
        one batch a non-NULL order value beats NULL. Before, a key whose
        only batch row had a NULL order value was stored as all NULLs."""
        from stream_loader_spark.sinks.upsert import UpsertSink

        sink = UpsertSink(str(tmp_path / "state"), ["k"], "n", num_buckets=4)
        schema = "k long, n long, v string"
        sink.write_batch(spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], schema), 0)
        sink.write_batch(
            spark.createDataFrame([(1, None, "a2"), (2, None, "b0"), (2, 5, "b2")], schema), 1
        )
        state = {r.k: (r.n, r.v) for r in sink.current_state(spark).collect()}
        assert state == {1: (None, "a2"), 2: (5, "b2")}

    def test_value_columns_named_like_the_version_survive(self, spark, tmp_path):
        """Stored rows carry their version under a reserved name: value
        columns named ``v`` (the delta directory's key) and ``version``
        read back as written, across commits, time travel and vacuum."""
        from stream_loader_spark.sinks.upsert import UpsertSink

        sink = UpsertSink(str(tmp_path / "state"), ["k"], "version", num_buckets=2)
        schema = "k long, v string, version long"
        sink.write_batch(spark.createDataFrame([(1, "a", 1), (2, "b", 1)], schema), 0)
        sink.write_batch(spark.createDataFrame([(1, "A", 5)], schema), 1)
        sink.write_batch(spark.createDataFrame([(2, "B", 7), (3, "c", 2)], schema), 2)

        def state(as_of=None):
            df = sink.current_state(spark, as_of_batch=as_of)
            assert df.columns == ["k", "v", "version"]
            return {r.k: (r.v, r.version) for r in df.collect()}

        want = {1: ("A", 5), 2: ("B", 7), 3: ("c", 2)}
        assert state() == want
        assert state(1) == {1: ("A", 5), 2: ("b", 1)}
        sink.vacuum(keep_last=2)
        assert state() == want
        assert state(1) == {1: ("A", 5), 2: ("b", 1)}
        feed = {r.k: (r._change, r.v, r._old_v) for r in sink.change_feed(spark, 2).collect()}
        assert feed == {2: ("update", "B", "b"), 3: ("insert", "c", None)}

    def test_reads_after_vacuum_open_one_directory_per_bucket(self, spark, tmp_path):
        """``vacuum(keep_last=1)`` folds every delta into one base per
        bucket: the next read opens those directories and nothing else,
        and the deltas are gone from disk."""
        from urllib.parse import urlparse

        sink = self._sink(tmp_path)
        for b in range(3):
            sink.write_batch(
                self._df(spark, [(k, f"v{b}", b) for k in range(0, 32, b + 1)]), b
            )
        want = {k: "v2" if k % 3 == 0 else "v1" if k % 2 == 0 else "v0" for k in range(32)}
        sink.vacuum(keep_last=1)
        state = sink.current_state(spark)
        opened = {os.path.dirname(urlparse(f).path) for f in state.inputFiles()}
        base = os.path.join(sink.path, "versions", "base=2")
        assert opened == {os.path.join(base, f"_bucket={b}") for b in range(8)}
        assert sink.bucket_versions() == dict.fromkeys(range(8), 2)
        assert os.listdir(os.path.join(sink.path, "versions")) == ["base=2"]
        assert {r.k: r.val for r in state.collect()} == want

    def test_commit_fsyncs_manifest_and_directory(self, spark, tmp_path, monkeypatch):
        sink = self._sink(tmp_path)
        synced = set()
        real_fsync = os.fsync

        def counting_fsync(fd):
            st = os.fstat(fd)
            synced.add((st.st_dev, st.st_ino))
            real_fsync(fd)

        monkeypatch.setattr(os, "fsync", counting_fsync)
        sink.write_batch(self._df(spark, [(1, "a", 1), (2, "b", 1)]), 0)
        monkeypatch.undo()
        for path in (sink.log.record_path(0), sink.log.path):
            st = os.stat(path)
            assert (st.st_dev, st.st_ino) in synced, path

    def test_failed_manifest_publish_leaves_no_temp_file(self, spark, tmp_path, monkeypatch):
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(1, "a", 1)]), 0)
        with open(sink.log.record_path(0)) as fh:
            before = fh.read()

        def failing_dump(*a, **k):
            raise RuntimeError("disk full")

        monkeypatch.setattr(json, "dump", failing_dump)
        with pytest.raises(RuntimeError, match="disk full"):
            sink.write_batch(self._df(spark, [(1, "b", 2)]), 1)
        monkeypatch.undo()
        assert [f for f in os.listdir(sink.log.path) if f.endswith(".tmp")] == []
        assert not os.path.exists(sink.log.record_path(1))
        with open(sink.log.record_path(0)) as fh:
            assert fh.read() == before
        assert [r.val for r in sink.current_state(spark).collect()] == ["a"]



    def test_null_key_state_merges(self, spark, tmp_path):
        """Regression: name-list joins are null-unsafe, so a NULL key's
        prior state was never anti-joined away (upsert kept BOTH rows)
        nor semi-joined back (matview merged only the delta). NULL is a
        legitimate key value and must behave exactly like any other."""
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(None, "a", 1), (1, "x", 1)]), 0)
        sink.write_batch(self._df(spark, [(None, "b", 2)]), 1)
        state = {r.k: r.val for r in sink.current_state(spark).collect()}
        assert state == {None: "b", 1: "x"}

    def test_null_key_change_feed_labels_update(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(None, "a", 1)]), 0)
        sink.write_batch(self._df(spark, [(None, "b", 2)]), 1)
        [row] = sink.change_feed(spark, 1).collect()
        assert (row["_change"], row["k"], row["val"], row["_old_val"]) == (
            "update", None, "b", "a",
        )

    def test_streaming_upsert_end_to_end(self, spark, stream_env):
        """Stream the events fixture keyed by (topic, partition): the
        upserted state IS the committed-positions table (A1 shape) —
        phase 2 advances exactly the replayed keys."""
        from stream_loader_spark.sinks.upsert import UpsertSink

        sink = UpsertSink(
            stream_env["out"], ["topic", "partition"], "offset", num_buckets=4
        )
        (
            StreamPipeline(spark)
            .from_file_stream(os.path.join(stream_env["src"], "*"), STREAM_SCHEMA)
            .sink(sink, stream_env["checkpoint"])
            .run_available()
        )
        before = {
            (r.topic, r.partition): r.offset
            for r in sink.current_state(spark).collect()
        }
        assert before  # one row per live (topic, partition)

        stream_env["add_phase2"]()
        (
            StreamPipeline(spark)
            .from_file_stream(os.path.join(stream_env["src"], "*"), STREAM_SCHEMA)
            .sink(sink, stream_env["checkpoint"])
            .run_available()
        )
        after = {
            (r.topic, r.partition): r.offset
            for r in sink.current_state(spark).collect()
        }
        assert set(after) == set(before)
        for key, off in after.items():
            assert off == before[key] + 1_000_000  # phase-2 offsets win


class TestUpsertBackfill:
    """A backfill (negative batch id) precedes the stream. The oldest
    live log record pins the layout, so a backfill committed late would
    sort before it and leave the state unreadable."""

    def _sink(self, tmp_path):
        from stream_loader_spark.sinks.upsert import UpsertSink

        return UpsertSink(str(tmp_path / "state"), ["k"], "ver", num_buckets=4)

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "k long, val string, ver long")

    def _state(self, spark, sink, as_of=None):
        return {r.k: r.val for r in sink.current_state(spark, as_of_batch=as_of).collect()}

    @pytest.mark.parametrize("vacuum", [False, True])
    def test_backfill_after_the_stream_is_refused(self, spark, tmp_path, vacuum):
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(1, "a", 1), (2, "b", 1)]), 0)
        sink.write_batch(self._df(spark, [(2, "B", 2)]), 1)
        if vacuum:
            sink.vacuum(keep_last=1)
        with pytest.raises(ValueError, match="backfill"):
            sink.write_batch(self._df(spark, [(3, "c", 0)]), -1)
        assert not sink.is_batch_committed(-1)
        assert not os.path.exists(sink._version_dir("v", -1))  # no data written
        assert self._state(spark, sink) == {1: "a", 2: "B"}
        sink.write_batch(self._df(spark, [(3, "c", 3)]), 2)
        assert self._state(spark, sink) == {1: "a", 2: "B", 3: "c"}

    def test_backfills_in_descending_order_are_refused(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(1, "a", 1)]), -1)
        with pytest.raises(ValueError, match="backfill"):
            sink.write_batch(self._df(spark, [(2, "b", 1)]), -2)
        assert self._state(spark, sink) == {1: "a"}

    def test_backfill_then_stream_folds(self, spark, tmp_path):
        """Batch 0 wins on the keys it shares with the backfill, whatever
        their order values: the version orders layers."""
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(1, "old", 9), (2, "x", 9)]), -1)
        sink.write_batch(self._df(spark, [(1, "new", 0), (3, "y", 0)]), 0)
        assert self._state(spark, sink) == {1: "new", 2: "x", 3: "y"}
        assert self._state(spark, sink, as_of=-1) == {1: "old", 2: "x"}
        sink.vacuum(keep_last=1)
        assert self._state(spark, sink) == {1: "new", 2: "x", 3: "y"}


class TestUpsertBucketDirDeltas:
    """State whose deltas an earlier version wrote as one
    ``v=<id>/_bucket=<b>/`` directory per touched bucket reads, vacuums
    and takes new commits beside the flat deltas written now, with no
    rebuild: every read agrees with a dict model."""

    OPS = [
        [(k, f"a{k}", False, 1) for k in range(12)],
        [
            (1, "b1", False, 2),
            (2, None, True, 2),
            (5, "b5", False, 2),
            (9, None, True, 2),
            (14, None, True, 2),
        ],
        [(2, "c2", False, 3), (3, "c3", False, 3), (5, None, True, 3), (12, "c12", False, 3)],
        [(1, None, True, 4), (3, "d3", False, 4), (9, "d9", False, 4), (13, "d13", False, 4)],
        [(0, "e0", False, 5), (2, None, True, 5), (13, "e13", False, 5)],
    ]

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "k long, val string, _del boolean, ver long")

    def _bucketed_commit(self, spark, sink, rows, batch_id):
        """What the earlier write path left for one batch: the batch's
        newest row per key (here one row per key) with the reserved
        columns, partitioned into ``_bucket=<b>`` directories, and the
        same log record."""
        from stream_loader_spark.sinks.upsert import _TOMB, _VER

        delta = self._df(spark, rows).select(
            "k", "val", "ver", F.col("_del").alias(_TOMB), F.lit(batch_id).cast("long").alias(_VER)
        )
        delta = delta.withColumn("_bucket", sink._bucket_col())
        delta.write.partitionBy("_bucket").parquet(sink._version_dir("v", batch_id))
        record = {
            "batch_id": batch_id,
            "buckets": sorted({r._bucket for r in delta.select("_bucket").collect()}),
        }
        if batch_id == 0:
            record["config"] = sink._config()
            record["schema"] = delta.select("k", "val", "ver").schema.jsonValue()
        sink.log.append(batch_id, record)

    def test_bucket_dir_deltas_then_flat_deltas_match_model(self, spark, tmp_path):
        from stream_loader_spark.sinks.upsert import UpsertSink

        sink = UpsertSink(
            str(tmp_path / "state"), ["k"], "ver", num_buckets=4, tombstone_col="_del"
        )
        model: dict[int, str] = {}
        snaps, feeds = {}, {}
        for batch_id, ops in enumerate(self.OPS):
            if batch_id < 2:
                self._bucketed_commit(spark, sink, ops, batch_id)
            elif batch_id < 4:
                sink.write_batch(self._df(spark, ops), batch_id)
            feed = {}
            for k, val, dele, _ in ops:
                if dele and k in model:
                    feed[k] = ("delete", None, model.pop(k))
                elif not dele and k not in model:
                    feed[k] = ("insert", val, None)
                elif not dele and model[k] != val:
                    feed[k] = ("update", val, model[k])
                if not dele:
                    model[k] = val
            snaps[batch_id], feeds[batch_id] = dict(model), feed

        versions = os.path.join(sink.path, "versions")
        assert any(n.startswith("_bucket=") for n in os.listdir(os.path.join(versions, "v=1")))
        assert not any(n.startswith("_bucket=") for n in os.listdir(os.path.join(versions, "v=2")))

        def state(as_of=None):
            rows = sink.current_state(spark, as_of_batch=as_of).collect()
            return {r.k: r.val for r in rows}

        def change_feed(batch_id):
            rows = sink.change_feed(spark, batch_id).collect()
            return {r.k: (r._change, r.val, r._old_val) for r in rows}

        assert state() == snaps[3]
        for b in range(4):
            assert state(b) == snaps[b], b
            assert change_feed(b) == feeds[b], b

        sink.vacuum(keep_last=1)
        assert sorted(os.listdir(versions)) == ["base=3"]
        assert state() == state(3) == snaps[3]

        sink.write_batch(self._df(spark, self.OPS[4]), 4)
        assert state() == snaps[4]
        assert state(3) == snaps[3]
        assert change_feed(4) == feeds[4]


class TestUpsertTimeTravel:
    def _sink(self, tmp_path):
        from stream_loader_spark.sinks.upsert import UpsertSink

        return UpsertSink(str(tmp_path / "state"), ["k"], "ver", num_buckets=4)

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "k long, val string, ver long")

    def test_as_of_reads_each_committed_snapshot(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(1, "a", 1), (2, "b", 1)]), 0)
        sink.write_batch(self._df(spark, [(2, "B", 2)]), 1)
        sink.write_batch(self._df(spark, [(1, "A", 3), (3, "c", 3)]), 2)

        def state(as_of=None):
            return {
                r.k: r.val for r in sink.current_state(spark, as_of_batch=as_of).collect()
            }

        assert state(0) == {1: "a", 2: "b"}
        assert state(1) == {1: "a", 2: "B"}
        assert state(2) == {1: "A", 2: "B", 3: "c"}
        assert state() == state(2)
        with pytest.raises(ValueError, match="no retained snapshot"):
            sink.current_state(spark, as_of_batch=99)

    def test_vacuum_prunes_old_versions_but_keeps_window(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        # key 1 rewritten every batch -> its bucket has 3 versions on disk
        sink.write_batch(self._df(spark, [(1, "a", 1)]), 0)
        sink.write_batch(self._df(spark, [(1, "b", 2)]), 1)
        sink.write_batch(self._df(spark, [(1, "c", 3)]), 2)

        removed = sink.vacuum(keep_last=2)
        assert removed  # batch-0 version of key 1's bucket is gone
        # retained window still time-travels
        assert {r.val for r in sink.current_state(spark, as_of_batch=1).collect()} == {"b"}
        assert {r.val for r in sink.current_state(spark).collect()} == {"c"}
        # pruned snapshot is a clean error, not a missing-file crash
        with pytest.raises(ValueError, match="no retained snapshot"):
            sink.current_state(spark, as_of_batch=0)
        # idempotent: nothing left to collect
        assert sink.vacuum(keep_last=2) == []


class TestUpsertChangeFeed:
    def _sink(self, tmp_path):
        from stream_loader_spark.sinks.upsert import UpsertSink

        return UpsertSink(str(tmp_path / "state"), ["k"], "ver", num_buckets=4)

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "k long, val string, ver long")

    def test_first_batch_is_all_inserts(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(1, "a", 1), (2, "b", 1)]), 0)
        feed = sink.change_feed(spark, 0).collect()
        assert {(r._change, r.k) for r in feed} == {("insert", 1), ("insert", 2)}

    def test_updates_carry_old_values_and_skip_carryover(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        # keys 1..8 spread over all 4 buckets so batch 1's buckets also
        # contain carried-over rows that must NOT appear in the feed
        sink.write_batch(
            self._df(spark, [(k, f"v{k}", 1) for k in range(1, 9)]), 0
        )
        sink.write_batch(self._df(spark, [(3, "V3", 2), (99, "new", 2)]), 1)
        feed = {r.k: r for r in sink.change_feed(spark, 1).collect()}
        assert set(feed) == {3, 99}
        assert feed[3]._change == "update"
        assert (feed[3]._old_val, feed[3].val) == ("v3", "V3")
        assert feed[99]._change == "insert" and feed[99]._old_val is None

    def test_unretained_batch_raises(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(self._df(spark, [(1, "a", 1)]), 0)
        with pytest.raises(ValueError, match="no retained snapshot"):
            sink.change_feed(spark, 5)


class TestIncrementalAggSink:
    """sinks/matview.py: continuous aggregation with delta-sized work."""

    SCHEMA = "k bigint, value double, ts timestamp"

    def _rows(self, spark, lo, hi):
        from datetime import datetime

        return spark.createDataFrame(
            [(i % 5, float(i * 7 % 13), datetime(2024, 1, 1)) for i in range(lo, hi)],
            self.SCHEMA,
        )

    def test_streamed_view_equals_full_aggregate(self, spark, tmp_path):
        from stream_loader_spark.operators.matview import (
            aggregate_state,
            finalize_aggregates,
        )
        from stream_loader_spark.sinks.matview import IncrementalAggSink
        from stream_loader_spark.streaming.pipeline import StreamPipeline

        src = str(tmp_path / "src")
        self._rows(spark, 0, 40).coalesce(1).write.mode("append").parquet(src)
        sink = IncrementalAggSink(str(tmp_path / "mv"), ["k"], ["value"])
        pipe = (
            StreamPipeline(spark)
            .from_file_stream(src, self.SCHEMA, maxFilesPerTrigger=1)
            .sink(sink, str(tmp_path / "chk"))
        )
        pipe.run_available()
        self._rows(spark, 40, 100).coalesce(1).write.mode("append").parquet(src)
        pipe.run_available()

        got = sorted(map(tuple, sink.current_view(spark).collect()))
        want = sorted(
            map(
                tuple,
                finalize_aggregates(
                    aggregate_state(self._rows(spark, 0, 100), ["k"], ["value"]), ["k"]
                ).collect(),
            )
        )
        assert got == want

    def test_replay_is_noop(self, spark, tmp_path):
        from stream_loader_spark.sinks.matview import IncrementalAggSink

        sink = IncrementalAggSink(str(tmp_path / "mv"), ["k"], ["value"])
        batch = self._rows(spark, 0, 30)
        sink.write_batch(batch, 0)
        once = sorted(map(tuple, sink.current_view(spark).collect()))
        sink.write_batch(batch, 0)  # at-least-once redelivery
        assert sorted(map(tuple, sink.current_view(spark).collect())) == once

    def test_batch_touches_only_its_buckets(self, spark, tmp_path):
        """Delta-sized maintenance: a batch over a single key must leave
        every other bucket's committed version untouched."""
        from pyspark.sql import functions as F
        from stream_loader_spark.sinks.matview import IncrementalAggSink

        sink = IncrementalAggSink(str(tmp_path / "mv"), ["k"], ["value"], num_buckets=8)
        sink.write_batch(self._rows(spark, 0, 40), 0)
        before = sink.upsert.bucket_versions()

        one_key = self._rows(spark, 0, 10).where(F.col("k") == 3)
        sink.write_batch(one_key, 1)
        after = sink.upsert.bucket_versions()

        changed = {b for b in after if after[b] != before.get(b)}
        assert len(changed) == 1  # exactly the bucket key 3 hashes into
        n3 = sink.current_view(spark).where(F.col("k") == 3).select("n").first()[0]
        assert n3 == 8 + 2  # 8 rows of k=3 in batch 0, 2 in batch 1


    def test_empty_first_batch_then_rows(self, spark, tmp_path):
        """A first batch with no rows commits no columns: the next batch
        finds no committed state to merge and starts the view."""
        from stream_loader_spark.sinks.matview import IncrementalAggSink

        sink = IncrementalAggSink(str(tmp_path / "mv"), ["k"], ["value"])
        sink.write_batch(self._rows(spark, 0, 0), 0)
        with pytest.raises(ValueError, match="no committed state"):
            sink.current_view(spark)
        sink.write_batch(self._rows(spark, 0, 30), 1)
        sink.write_batch(self._rows(spark, 30, 40), 2)
        once = IncrementalAggSink(str(tmp_path / "once"), ["k"], ["value"])
        once.write_batch(self._rows(spark, 0, 40), 0)
        assert sorted(map(tuple, sink.current_view(spark).collect())) == sorted(
            map(tuple, once.current_view(spark).collect())
        )

    def test_view_as_of_reads_historical_snapshot(self, spark, tmp_path):
        """Time travel on the continuous aggregate: the view as of an
        earlier batch is the aggregate of exactly the data seen then."""
        from stream_loader_spark.sinks.matview import IncrementalAggSink

        sink = IncrementalAggSink(str(tmp_path / "mv"), ["k"], ["value"])
        sink.write_batch(self._rows(spark, 0, 30), 0)
        want0 = sorted(map(tuple, sink.current_view(spark).collect()))
        sink.write_batch(self._rows(spark, 30, 80), 1)

        got0 = sorted(map(tuple, sink.view_as_of(spark, 0).collect()))
        assert got0 == want0
        assert sorted(map(tuple, sink.view_as_of(spark, 1).collect())) == sorted(
            map(tuple, sink.current_view(spark).collect())
        )

    def test_null_group_key_folds_incrementally(self, spark, tmp_path):
        """Regression: NULL aggregation-group state must fold across
        batches into one row, not accumulate one stale row per batch."""
        from datetime import datetime
        from stream_loader_spark.sinks.matview import IncrementalAggSink

        sink = IncrementalAggSink(str(tmp_path / "mv"), ["k"], ["value"])
        df0 = spark.createDataFrame([(None, 10.0, datetime(2024, 1, 1))], self.SCHEMA)
        df1 = spark.createDataFrame([(None, 5.0, datetime(2024, 1, 1))], self.SCHEMA)
        sink.write_batch(df0, 0)
        sink.write_batch(df1, 1)
        rows = sink.current_view(spark).collect()
        assert len(rows) == 1
        assert rows[0]["k"] is None
        assert (rows[0]["n"], rows[0]["sum_value"]) == (2, 15.0)

class TestSketchViewSink:
    """sinks/matview.py::SketchViewSink — streaming daily-sketch layer."""

    SCHEMA = "topic string, dt date, uid string"

    def _batch(self, spark, lo, hi, day):
        from datetime import date

        return spark.createDataFrame(
            [("t", date(2024, 1, day), str(i)) for i in range(lo, hi)], self.SCHEMA
        )

    def test_cross_batch_union_and_range_rollup(self, spark, tmp_path):
        from datetime import date

        from stream_loader_spark.sinks.matview import SketchViewSink

        sink = SketchViewSink(str(tmp_path / "sk"), "topic", "dt", "uid")
        sink.write_batch(self._batch(spark, 0, 300, day=1), 0)
        # day 1 gets MORE values in a later batch (overlapping 200-299),
        # day 2 is new
        sink.write_batch(
            self._batch(spark, 200, 500, day=1).unionAll(
                self._batch(spark, 0, 100, day=2)
            ),
            1,
        )

        daily = {
            (r["topic"], str(r["dt"])): (r["n_rows"], r["distinct_approx"])
            for r in sink.daily_estimates(spark).collect()
        }
        n1, approx1 = daily[("t", "2024-01-01")]
        assert n1 == 600  # 300 + 300 rows observed
        assert abs(approx1 - 500) / 500 <= 0.05  # distinct 0..499 after union
        n2, approx2 = daily[("t", "2024-01-02")]
        assert n2 == 100 and abs(approx2 - 100) / 100 <= 0.05

        # range rollup across both days: distinct is still 500 (day-2
        # uids are a subset of day-1's) — union, not sum
        rng = sink.range_estimate(
            spark, date(2024, 1, 1), date(2024, 1, 2)
        ).collect()[0]
        assert abs(rng["distinct_approx"] - 500) / 500 <= 0.05

    def test_replay_keeps_counts_exact(self, spark, tmp_path):
        from stream_loader_spark.sinks.matview import SketchViewSink

        sink = SketchViewSink(str(tmp_path / "sk"), "topic", "dt", "uid")
        b = self._batch(spark, 0, 100, day=1)
        sink.write_batch(b, 0)
        sink.write_batch(b, 0)  # redelivery
        row = sink.daily_estimates(spark).collect()[0]
        assert row["n_rows"] == 100  # ledger short-circuits before sketching


class TestUpsertSchemaEvolution:
    """Additive schema evolution: batches may add or omit value columns;
    neither direction crashes the merge or drops carried data."""

    def _sink(self, tmp_path):
        from stream_loader_spark.sinks.upsert import UpsertSink

        return UpsertSink(str(tmp_path / "state"), ["k"], "ver", num_buckets=4)

    def test_batch_adding_a_column(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(
            spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k long, val string, ver long"),
            0,
        )
        sink.write_batch(
            spark.createDataFrame(
                [(2, "B", "x", 2)], "k long, val string, extra string, ver long"
            ),
            1,
        )
        state = {r["k"]: r for r in sink.current_state(spark).collect()}
        assert state[2]["val"] == "B" and state[2]["extra"] == "x"
        # pre-evolution row reads back with NULL in the new column
        assert state[1]["val"] == "a" and state[1]["extra"] is None

    def test_batch_omitting_a_column_keeps_carried_values(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(
            spark.createDataFrame(
                [(1, "a", "keepme", 1), (2, "b", "old", 1)],
                "k long, val string, extra string, ver long",
            ),
            0,
        )
        # batch 1 omits 'extra' and touches key 2's bucket
        sink.write_batch(
            spark.createDataFrame([(2, "B", 2)], "k long, val string, ver long"), 1
        )
        state = {r["k"]: r for r in sink.current_state(spark).collect()}
        assert state[1]["extra"] == "keepme"  # carried row: NOT dropped
        assert state[2]["val"] == "B" and state[2]["extra"] is None

    def _bucket_keys(self, spark, sink):
        """Keys a and a2 in one bucket, and b in another."""
        rows = (
            spark.createDataFrame([(k,) for k in range(32)], "k long")
            .select("k", sink._bucket_col().alias("b"))
            .collect()
        )
        a = rows[0]
        a2 = next(r for r in rows[1:] if r.b == a.b)
        b = next(r for r in rows if r.b != a.b)
        return a.k, a2.k, b.k

    def test_column_added_in_one_bucket_survives_rewrites_of_others(self, spark, tmp_path):
        """The stored schema pin is a running union: a batch that writes
        only a new bucket B, without the column bucket A gained, does not
        drop the column from the pin, so bucket A's next rewrite still
        reads it for the rows it carries over."""
        sink = self._sink(tmp_path)
        a, a2, b = self._bucket_keys(spark, sink)
        base = "k long, val string, ver long"
        sink.write_batch(spark.createDataFrame([(a, "a", 1)], base), 0)
        sink.write_batch(
            spark.createDataFrame([(a, "A", "x", 2)], "k long, val string, extra string, ver long"),
            1,
        )
        sink.write_batch(spark.createDataFrame([(b, "B", 3)], base), 2)
        state = {r["k"]: (r["val"], r["extra"]) for r in sink.current_state(spark).collect()}
        assert state == {a: ("A", "x"), b: ("B", None)}
        # bucket A rewritten by a batch that omits the column: a is carried
        sink.write_batch(spark.createDataFrame([(a2, "n", 4)], base), 3)
        state = {r["k"]: (r["val"], r["extra"]) for r in sink.current_state(spark).collect()}
        assert state == {a: ("A", "x"), a2: ("n", None), b: ("B", None)}

    def test_change_feed_across_schema_change(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(
            spark.createDataFrame([(1, "a", 1)], "k long, val string, ver long"), 0
        )
        sink.write_batch(
            spark.createDataFrame(
                [(1, "a", "x", 2)], "k long, val string, extra string, ver long"
            ),
            1,
        )
        [row] = sink.change_feed(spark, 1).collect()
        # backfilling a new column on an existing key is an update with
        # a NULL old for the column that did not exist yet
        assert row["_change"] == "update"
        assert row["extra"] == "x" and row["_old_extra"] is None
        assert row["_old_val"] == "a"


class TestUpsertTombstones:
    """CDC deletes: a batch row with the tombstone column TRUE removes
    its key; the feed labels it with old values attached."""

    def _sink(self, tmp_path):
        from stream_loader_spark.sinks.upsert import UpsertSink

        return UpsertSink(
            str(tmp_path / "state"), ["k"], "ver", num_buckets=4, tombstone_col="_del"
        )

    SCHEMA = "k long, val string, _del boolean, ver long"

    def test_delete_removes_key_and_marker_is_not_stored(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(
            spark.createDataFrame(
                [(1, "a", False, 1), (2, "b", False, 1)], self.SCHEMA
            ),
            0,
        )
        sink.write_batch(
            spark.createDataFrame([(1, None, True, 2)], self.SCHEMA), 1
        )
        state = sink.current_state(spark)
        assert "_del" not in state.columns
        assert [r["k"] for r in state.collect()] == [2]

    def test_delete_then_reinsert_resolves_by_order(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(
            spark.createDataFrame(
                [(1, None, True, 5), (1, "reborn", False, 9)], self.SCHEMA
            ),
            0,
        )
        [row] = sink.current_state(spark).collect()
        assert row["val"] == "reborn"
        # and the reverse: delete wins when it is newest
        sink2 = self._sink(tmp_path / "b")
        sink2.write_batch(
            spark.createDataFrame(
                [(1, "old", False, 5), (1, None, True, 9)], self.SCHEMA
            ),
            0,
        )
        empty = sink2.current_state(spark)
        assert empty.count() == 0
        assert empty.columns == ["k", "val", "ver"]

    def test_change_feed_labels_delete_with_old_values(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(
            spark.createDataFrame(
                [(1, "a", False, 1), (2, "b", False, 1)], self.SCHEMA
            ),
            0,
        )
        sink.write_batch(
            spark.createDataFrame(
                [(1, None, True, 2), (3, "c", False, 2)], self.SCHEMA
            ),
            1,
        )
        feed = {r["_change"]: r for r in sink.change_feed(spark, 1).collect()}
        assert set(feed) == {"delete", "insert"}
        assert feed["delete"]["k"] == 1 and feed["delete"]["_old_val"] == "a"
        assert feed["delete"]["val"] is None
        assert feed["insert"]["k"] == 3

    def test_all_delete_batch_empties_bucket_without_breaking_reads(
        self, spark, tmp_path
    ):
        sink = self._sink(tmp_path)
        sink.write_batch(
            spark.createDataFrame([(1, "a", False, 1)], self.SCHEMA), 0
        )
        sink.write_batch(
            spark.createDataFrame([(1, None, True, 2)], self.SCHEMA), 1
        )
        empty = sink.current_state(spark)
        assert empty.count() == 0
        assert empty.columns == ["k", "val", "ver"]
        feed = sink.change_feed(spark, 1).collect()
        assert [r["_change"] for r in feed] == ["delete"]
        # replay of the delete batch is still a committed no-op
        sink.write_batch(
            spark.createDataFrame([(1, "ghost", False, 3)], self.SCHEMA), 1
        )
        empty = sink.current_state(spark)
        assert empty.count() == 0
        assert empty.columns == ["k", "val", "ver"]


    def test_feed_after_full_delete_labels_rebirth_as_insert(self, spark, tmp_path):
        sink = self._sink(tmp_path)
        sink.write_batch(
            spark.createDataFrame([(1, "a", False, 1)], self.SCHEMA), 0
        )
        sink.write_batch(
            spark.createDataFrame([(1, None, True, 2)], self.SCHEMA), 1
        )
        sink.write_batch(
            spark.createDataFrame([(1, "back", False, 3)], self.SCHEMA), 2
        )
        [row] = sink.change_feed(spark, 2).collect()
        assert (row["_change"], row["val"]) == ("insert", "back")
        [live] = sink.current_state(spark).collect()
        assert live["val"] == "back"

class TestUpsertModelBased:
    """Property test in the reference's ScalaCheck tradition: ANY random
    sequence of upsert/delete batches must leave the sink's state equal
    to a trivial dict model replaying the same operations."""

    def test_random_batches_match_reference_model(self, spark, tmp_path):
        import random

        from stream_loader_spark.sinks.upsert import UpsertSink

        rng = random.Random(20240814)
        for trial in range(3):
            sink = UpsertSink(
                str(tmp_path / f"s{trial}"),
                ["k"],
                "ver",
                num_buckets=4,
                tombstone_col="_del",
            )
            model: dict[int, str] = {}
            ver = 0
            for batch_id in range(4):
                ops = []
                for _ in range(rng.randint(1, 8)):
                    ver += 1  # strictly increasing: ties never ambiguous
                    k = rng.randint(0, 5)
                    if rng.random() < 0.3:
                        ops.append((k, None, True, ver))
                    else:
                        ops.append((k, f"v{ver}", False, ver))
                sink.write_batch(
                    spark.createDataFrame(
                        ops, "k long, val string, _del boolean, ver long"
                    ),
                    batch_id,
                )
                # model: replay in ver order (the sink's contract)
                for k, val, dele, v in sorted(ops, key=lambda o: o[3]):
                    if dele:
                        model.pop(k, None)
                    else:
                        model[k] = val
            try:
                got = {
                    r["k"]: r["val"] for r in sink.current_state(spark).collect()
                }
            except ValueError:
                got = {}
            assert got == model, f"trial {trial} diverged"


    def test_random_batches_with_vacuums_match_reference_model(self, spark, tmp_path):
        """Random upsert/delete batches with ``vacuum(keep_last=k)``
        interleaved: after every vacuum and at the end, the state as of
        every retained batch equals the model's snapshot after it, and
        every retained batch's change feed labels equal the model's
        diff. The batch a vacuum folded into a base has no feed left."""
        import random

        from stream_loader_spark.sinks.manifest import CommitLog
        from stream_loader_spark.sinks.upsert import UpsertSink

        rng = random.Random(20261019)
        for trial in range(2):
            sink = UpsertSink(
                str(tmp_path / f"s{trial}"), ["k"], "ver", num_buckets=4, tombstone_col="_del"
            )
            model: dict[int, str] = {}
            snaps: dict[int, dict] = {}
            feeds: dict[int, dict] = {}
            ver = 0

            def check() -> None:
                for rec in sink._records():
                    b = rec["batch_id"]
                    got = sink.current_state(spark, as_of_batch=b).collect()
                    assert {r["k"]: r["val"] for r in got} == snaps[b], (trial, b)
                    if CommitLog.is_compaction(rec):
                        with pytest.raises(ValueError, match="folded"):
                            sink.change_feed(spark, b)
                        continue
                    feed = {
                        r["k"]: (r["_change"], r["val"], r["_old_val"])
                        for r in sink.change_feed(spark, b).collect()
                    }
                    assert feed == feeds[b], (trial, b)

            for batch_id in range(6):
                ops = []
                for _ in range(rng.randint(1, 8)):
                    ver += 1
                    k = rng.randint(0, 7)
                    if rng.random() < 0.3:
                        ops.append((k, None, True, ver))
                    else:
                        ops.append((k, f"v{ver}", False, ver))
                sink.write_batch(
                    spark.createDataFrame(ops, "k long, val string, _del boolean, ver long"),
                    batch_id,
                )
                before = dict(model)
                newest = {}
                for k, val, dele, v in sorted(ops, key=lambda o: o[3]):
                    newest[k] = (val, dele)
                    if dele:
                        model.pop(k, None)
                    else:
                        model[k] = val
                snaps[batch_id] = dict(model)
                feeds[batch_id] = {}
                for k, (val, dele) in newest.items():
                    if dele and k in before:
                        feeds[batch_id][k] = ("delete", None, before[k])
                    elif not dele and k not in before:
                        feeds[batch_id][k] = ("insert", val, None)
                    elif not dele and before[k] != val:
                        feeds[batch_id][k] = ("update", val, before[k])
                if rng.random() < 0.5:
                    sink.vacuum(keep_last=rng.randint(1, 3))
                    check()
            check()


class TestUpsertConfigPin:
    """The bucket layout (num_buckets/key_cols/order_col) is pinned in
    the manifest on first write; reopening under a different layout —
    or reopening a pre-pinning manifest whose layout is unknowable —
    must fail loudly: _bucket_col hashes under the CURRENT sink's
    layout, so a mismatch silently merges the wrong bucket directories
    and duplicates keys."""

    def _write_one(self, spark, path, **kw):
        from stream_loader_spark.sinks.upsert import UpsertSink

        sink = UpsertSink(str(path), ["k"], "ver", **kw)
        sink.write_batch(
            spark.createDataFrame([(1, 1, "a")], "k int, ver bigint, v string"), 0
        )
        return sink

    def test_layout_mismatch_is_refused(self, spark, tmp_path):
        from stream_loader_spark.sinks.upsert import UpsertSink

        self._write_one(spark, tmp_path / "state", num_buckets=4)
        # same layout reopens fine
        UpsertSink(str(tmp_path / "state"), ["k"], "ver", num_buckets=4).bucket_versions()
        with pytest.raises(ValueError, match="config mismatch"):
            UpsertSink(
                str(tmp_path / "state"), ["k"], "ver", num_buckets=8
            ).bucket_versions()

    def test_data_bearing_manifest_without_config_is_refused(self, spark, tmp_path):
        import json

        from stream_loader_spark.sinks.upsert import UpsertSink

        sink = self._write_one(spark, tmp_path / "state", num_buckets=4)
        mp = sink.log.record_path(0)
        with open(mp) as fh:
            m = json.load(fh)
        del m["config"]  # simulate a log whose oldest record has no pin
        with open(mp, "w") as fh:
            json.dump(m, fh)
        with pytest.raises(ValueError, match="no pinned config"):
            UpsertSink(
                str(tmp_path / "state"), ["k"], "ver", num_buckets=4
            ).bucket_versions()

    @pytest.mark.parametrize("shape", ["batch", "compaction"])
    def test_full_rewrite_layout_log_is_refused(self, spark, tmp_path, shape):
        """A log in the whole-bucket-rewrite record shape (its config has
        no layout pin) must not be folded as deltas: a key a later
        version dropped would come back from an earlier one. Every entry
        point refuses it and writes nothing."""
        from stream_loader_spark.sinks.manifest import CommitLog
        from stream_loader_spark.sinks.upsert import UpsertSink

        state = tmp_path / "state"
        for v in (0, 1):
            os.makedirs(state / "versions" / f"v={v}" / "_bucket=1")
        config = {"num_buckets": 4, "key_cols": ["k"], "order_col": "ver"}
        log = CommitLog(str(state / "_manifest"))
        if shape == "batch":
            log.append(0, {"batch_id": 0, "buckets": [1], "config": config})
            log.append(1, {"batch_id": 1, "buckets": [1]})
        else:
            log.compact(
                {
                    "batch_id": 1,
                    "replaces_upto": 1,
                    "replaces_neg": [],
                    "versions": {"1": 1},
                    "config": config,
                }
            )
        names = log.names()
        sink = UpsertSink(str(state), ["k"], "ver", num_buckets=4)
        batch = spark.createDataFrame([(1, 1, "a")], "k int, ver bigint, v string")
        for call in (
            sink.bucket_versions,
            lambda: sink.current_state(spark),
            lambda: sink.change_feed(spark, 1),
            lambda: sink.write_batch(batch, 2),
            sink.vacuum,
        ):
            with pytest.raises(ValueError, match="rebuild the state"):
                call()
        assert log.names() == names
        assert not os.path.exists(state / "versions" / "v=2")

    def test_single_file_manifest_state_is_refused(self, spark, tmp_path):
        """State written in the single-file ``manifest.json`` format has
        no log: opening it must fail, not start an empty log over it."""
        from stream_loader_spark.sinks.upsert import UpsertSink

        state = tmp_path / "state"
        os.makedirs(state / "versions" / "v=0" / "_bucket=1")
        with open(state / "manifest.json", "w") as fh:
            json.dump({"versions": {"1": 0}, "batches": [0], "history": {}}, fh)
        sink = UpsertSink(str(state), ["k"], "ver", num_buckets=4)
        with pytest.raises(ValueError, match="manifest.json"):
            sink.bucket_versions()
        with pytest.raises(ValueError, match="manifest.json"):
            sink.write_batch(
                spark.createDataFrame([(1, 1, "a")], "k int, ver bigint, v string"), 1
            )
        with pytest.raises(ValueError, match="manifest.json"):
            sink.vacuum()
        assert os.path.isdir(state / "versions" / "v=0" / "_bucket=1")
        assert os.listdir(sink.log.path) == []
