"""Randomized kill-restart soak for the exactly-once sinks.

The single-batch crash matrices in test_streaming_sinks.py prove each
crash PHASE in isolation; this soak proves the phases compose: a run of
many batches where a seeded RNG kills the sink at a random phase of a
random subset of commits (sometimes repeatedly for the same batch),
each kill followed by the restart replay — mirroring the reference's
restart behavior suite (fixtures KafkaRestartBehaviors.scala:33-93) on
file storage. Invariants after the dust settles: committed state equals
the crash-free multiset (no loss), every stream key appears exactly
once (no dups), and recovered positions equal the A1 aggregation.

Seeded ``random.Random`` keeps the schedule deterministic run-to-run
while still exercising an arbitrary interleaving of crash phases.
"""

from __future__ import annotations

import random
from datetime import datetime, timezone

import pytest

pytestmark = pytest.mark.slow

from stream_loader_spark.sinks.manifest import ManifestFileSink
from stream_loader_spark.sinks.upsert import UpsertSink

TS = datetime(2024, 1, 1, tzinfo=timezone.utc)
SCHEMA = "topic string, partition int, offset bigint, ts timestamp"


class TestManifestSinkSoak:
    N_BATCHES = 10
    ROWS_PER_PART = 25  # x2 partitions = 50 rows/batch

    def _batch(self, spark, b):
        rows = [
            ("t", p, b * self.ROWS_PER_PART + j, TS)
            for p in (0, 1)
            for j in range(self.ROWS_PER_PART)
        ]
        return spark.createDataFrame(rows, SCHEMA)

    def test_randomized_kill_restart_soak(self, spark, tmp_path):
        rng = random.Random(0x5157)
        sink = ManifestFileSink(str(tmp_path / "out"))

        def crash_pre_data(s):
            real = s._build_writer

            def boom(df):
                raise RuntimeError("killed before data write")

            s._build_writer = boom
            return lambda: setattr(s, "_build_writer", real)

        def crash_mid_commit(s):
            real = s._commit_manifest

            def boom(batch_id, ranges):
                raise RuntimeError("killed between data and manifest")

            s._commit_manifest = boom
            return lambda: setattr(s, "_commit_manifest", real)

        phases = [crash_pre_data, crash_mid_commit, None]
        kills = 0
        for b in range(self.N_BATCHES):
            batch = self._batch(spark, b)
            attempts = 0
            while not sink.is_batch_committed(b):
                attempts += 1
                # force success eventually so runtime stays bounded
                phase = rng.choice(phases) if attempts < 3 else None
                if phase is None:
                    sink.write_batch(batch, b)
                else:
                    restore = phase(sink)
                    with pytest.raises(RuntimeError, match="killed"):
                        sink.write_batch(batch, b)
                    restore()
                    kills += 1
            # replay of a committed batch is always a no-op
            if rng.random() < 0.3:
                sink.write_batch(batch, b)

        assert kills > 0  # the schedule actually exercised crashes
        expected = self.N_BATCHES * 2 * self.ROWS_PER_PART
        data = sink.committed_data(spark)
        keys = data.select("topic", "partition", "offset")
        assert keys.count() == expected  # no loss
        assert keys.distinct().count() == expected  # no dups
        pos = sink.committed_positions()
        top = self.N_BATCHES * self.ROWS_PER_PART
        assert pos[("t", 0)].offset == top
        assert pos[("t", 1)].offset == top
        # no stray committed batches beyond the schedule
        assert [c.batch_id for c in sink.committed_batches()] == list(
            range(self.N_BATCHES)
        )


class TestUpsertSinkSoak:
    N_BATCHES = 8
    KEYSPACE = 24

    def test_randomized_kill_restart_soak(self, spark, tmp_path):
        rng = random.Random(0xB0B)
        sink = UpsertSink(
            str(tmp_path / "state"),
            key_cols=["k"],
            order_col="ver",
            num_buckets=4,
            tombstone_col="deleted",
        )
        model: dict[int, int] = {}  # key -> expected value (crash-free oracle)
        kills = 0
        for b in range(self.N_BATCHES):
            # random upserts + occasional tombstones over a small keyspace
            ops = []
            for k in rng.sample(range(self.KEYSPACE), rng.randint(4, 10)):
                if rng.random() < 0.2 and k in model:
                    ops.append((k, b * 1000 + k, None, True))
                    del model[k]
                else:
                    val = b * 1000 + k
                    ops.append((k, val, val, False))
                    model[k] = val
            batch = spark.createDataFrame(
                [(k, ver, val, dead) for k, ver, val, dead in ops],
                "k int, ver bigint, val bigint, deleted boolean",
            )
            attempts = 0
            while not sink.is_batch_committed(b):
                attempts += 1
                if attempts < 3 and rng.random() < 0.5:
                    # kill between the versioned data write and the
                    # manifest flip: the deterministic v=<batch_id> path
                    # must make the replay overwrite, never duplicate
                    real = sink.log.append

                    def boom(batch_id, record):
                        raise RuntimeError("killed before manifest flip")

                    sink.log.append = boom
                    with pytest.raises(RuntimeError, match="killed"):
                        sink.write_batch(batch, b)
                    sink.log.append = real
                    kills += 1
                else:
                    sink.write_batch(batch, b)
            if rng.random() < 0.3:
                sink.write_batch(batch, b)  # committed replay: no-op

        assert kills > 0
        got = {
            r["k"]: r["val"] for r in sink.current_state(spark).collect()
        }
        assert got == model
        # key uniqueness independently of the model comparison
        state = sink.current_state(spark)
        assert state.count() == state.select("k").distinct().count()


class TestClickHouseSoak:
    """K7 under a randomized HTTP-500 schedule: N contiguous-offset
    batches, a seeded RNG injecting 0-2 mid-insert failures per batch,
    every failure followed by the streaming engine's retry of the whole
    batch. Exactly-once obligations verified against the recording
    server: every retry re-sends byte-identical dedup tokens (so real
    ClickHouse drops replayed blocks server-side), one distinct body
    per token across all attempts, and each failure drops the
    driver-side position cache (a fresh A1 recovery SELECT precedes the
    retry)."""

    N_BATCHES = 8
    ROWS = 20  # per batch, 2 partitions

    @pytest.fixture()
    def ch_server(self):
        import json
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
        from urllib.parse import urlparse, parse_qs

        requests = []
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
                    }
                )
                if query.startswith("INSERT") and control["fail_next_inserts"] > 0:
                    control["fail_next_inserts"] -= 1
                    err = b"Code: 999. DB::Exception: injected failure"
                    self.send_response(500)
                    self.send_header("Content-Length", str(len(err)))
                    self.end_headers()
                    self.wfile.write(err)
                    return
                payload = b'{"data": []}' if query.startswith("SELECT") else b""
                self.send_response(200)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *a):
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        yield {
            "url": f"http://127.0.0.1:{srv.server_address[1]}",
            "requests": requests,
            "control": control,
        }
        srv.shutdown()

    def test_randomized_http_fault_soak(self, spark, ch_server):
        from stream_loader_spark.functions.rowbinary import CHType, RowBinaryEncoder
        from stream_loader_spark.sinks.clickhouse import ClickHouseHttpStorage

        rng = random.Random(0xC11C)
        enc = RowBinaryEncoder(
            [
                ("topic", CHType("String")),
                ("partition", CHType("Int32")),
                ("offset", CHType("Int64")),
                ("value", CHType("Float64")),
            ]
        )
        storage = ClickHouseHttpStorage(
            ch_server["url"], "db.events", enc, verify_dedup=False
        )
        kills = 0
        for b in range(self.N_BATCHES):
            batch = spark.createDataFrame(
                [
                    ("t", i % 2, b * self.ROWS + i, float(i), TS)
                    for i in range(self.ROWS)
                ],
                "topic string, partition int, offset bigint, value double, ts timestamp",
            )
            while True:
                n_fail = rng.choice([0, 0, 1, 2])
                ch_server["control"]["fail_next_inserts"] = n_fail
                if n_fail == 0:
                    storage(batch, b)
                    break
                kills += 1
                with pytest.raises(Exception, match="injected|999|500"):
                    storage(batch, b)
                # unspent injections must not leak into the retry
                ch_server["control"]["fail_next_inserts"] = 0

        assert kills > 0
        inserts = [
            r for r in ch_server["requests"] if r["query"].startswith("INSERT")
        ]
        # ClickHouse-side dedup emulation: one distinct body per token,
        # byte-identical across every (re)send — a replay is a no-op
        by_token: dict[str, bytes] = {}
        for r in inserts:
            assert r["token"], "every INSERT must carry a dedup token"
            if r["token"] in by_token:
                assert by_token[r["token"]] == r["body"], (
                    "retry re-sent a block with the same token but "
                    "different bytes — server-side dedup would keep the "
                    "wrong rows"
                )
            else:
                by_token[r["token"]] = r["body"]
        # exactly one block per (batch, partition), all of which landed
        assert len(by_token) == self.N_BATCHES * 2
        # every row 2+'t'(1)+... = 22 bytes (see
        # test_insert_posts_tokened_rowbinary_blocks); the deduped body
        # bytes reconstruct the full row population exactly once
        assert sum(len(v) for v in by_token.values()) == (
            self.N_BATCHES * self.ROWS * 22
        )
        # each failure dropped the position cache: the sink re-issued
        # the A1 recovery SELECT before (re)sending
        selects = [
            r for r in ch_server["requests"] if r["query"].startswith("SELECT")
        ]
        assert len(selects) >= kills


class TestCompactionSoak:
    """Maintenance ops under the same randomized kill discipline: writes
    interleaved with compact_data (sometimes killed before its atomic
    commit record) and vacuum. After EVERY step the committed view must
    equal the crash-free multiset, and after the dust settles every
    batch id must still prove committed (the compaction record's
    transitive ``replaces`` closure — the property vacuum relies on to
    delete original records safely)."""

    N_BATCHES = 8
    ROWS_PER_PART = 15

    def test_compaction_vacuum_under_kill_schedule(self, spark, tmp_path):
        rng = random.Random(0xC04C)
        sink = ManifestFileSink(str(tmp_path / "out"))
        for b in range(self.N_BATCHES):
            batch = spark.createDataFrame(
                [
                    ("t", p, b * self.ROWS_PER_PART + j, TS)
                    for p in (0, 1)
                    for j in range(self.ROWS_PER_PART)
                ],
                SCHEMA,
            )
            sink.write_batch(batch, b)
            roll = rng.random()
            if roll < 0.4:
                if rng.random() < 0.5:
                    # die before the compaction record lands: the
                    # consolidated dir exists but originals stay live
                    real = sink.log.compact

                    def boom(record):
                        raise RuntimeError("killed before compaction record")

                    sink.log.compact = boom
                    with pytest.raises(RuntimeError, match="killed"):
                        sink.compact_data(spark, min_batches=1)
                    sink.log.compact = real
                else:
                    sink.compact_data(spark, min_batches=1)
            elif roll > 0.7:
                sink.vacuum()
            # invariant after every write/compact/kill/vacuum step
            n = (b + 1) * 2 * self.ROWS_PER_PART
            data = sink.committed_data(spark)
            keys = data.select("topic", "partition", "offset")
            assert keys.count() == n
            assert keys.distinct().count() == n
        # every batch id still proves committed through the compaction
        # records' transitive replaces closure, vacuums notwithstanding
        for b in range(self.N_BATCHES):
            assert sink.is_batch_committed(b), b
        pos = sink.committed_positions()
        top = self.N_BATCHES * self.ROWS_PER_PART
        assert pos[("t", 0)].offset == top
        assert pos[("t", 1)].offset == top
