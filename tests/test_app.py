"""Config-driven loader assembly (stream_loader_spark/app.py).

Mirrors the reference's application-config entry path
(stream-loader-tests common.conf + application-*.conf): a deployment
is a config artifact, the engine assembles source → transforms → sink
from it, and typos fail loudly instead of silently dropping a stage.
"""

import json
import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from stream_loader_spark.app import build_app, load_app

REC_SCHEMA = "topic string, partition int, offset bigint, ts timestamp, props string"


def _write_source(spark, path, n=20):
    spark.createDataFrame(
        [("t", 0, i, datetime(2024, 1, 1 + i % 3), json.dumps({"k": i, "v": f"x{i}"})) for i in range(n)],
        REC_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(path)


class TestBuildApp:
    def _config(self, tmp_path):
        return {
            "source": {"type": "file", "path": str(tmp_path / "src"), "schema": REC_SCHEMA},
            "format": {"type": "json", "schema": "k BIGINT, v STRING"},
            "partition": {"column": "ts"},
            "sink": {"type": "manifest", "path": str(tmp_path / "out"), "partition-by": "dt"},
            "checkpoint": str(tmp_path / "chk"),
        }

    def test_end_to_end_drain_from_json_file(self, spark, tmp_path):
        """The full deployment shape: config on disk → assembled app →
        drained stream → committed, date-partitioned, typed records."""
        _write_source(spark, str(tmp_path / "src"))
        cfg_path = str(tmp_path / "app.json")
        with open(cfg_path, "w") as fh:
            json.dump(self._config(tmp_path), fh)

        app = load_app(spark, cfg_path)
        app.pipeline.run_available()

        got = app.sink.committed_data(spark)
        assert got.count() == 20
        cols = set(got.columns)
        assert {"k", "v", "dt"} <= cols  # formatted + date-partitioned
        assert got.where(F.col("k") == 7).select("v").first()[0] == "x7"

    def test_restart_resumes_without_duplicates(self, spark, tmp_path):
        cfg = self._config(tmp_path)
        _write_source(spark, cfg["source"]["path"], n=10)
        build_app(spark, cfg).pipeline.run_available()
        # second build from the SAME config: checkpoint + manifest carry over
        _write_source(spark, cfg["source"]["path"], n=10)
        app = build_app(spark, cfg)
        app.pipeline.run_available()
        # 10 replayed offsets are deduplicated by the checkpoint, not re-written
        assert app.sink.committed_data(spark).count() == 20

    def _crash_after_sink_commit(self, spark, cfg, committed_batches):
        """Drain 4 files through watermark + dedup, then drop the
        engine's commit of the last batch the sink committed (and every
        later offset) and restart: the restart replays a batch the sink
        already holds. Returns the rebuilt app after its drain."""
        cfg["source"]["options"] = {"maxFilesPerTrigger": 1}
        cfg["watermark"] = {"column": "ts", "delay": "3 minutes"}
        cfg["dedup"] = {"keys": ["topic", "partition", "offset"]}
        src = cfg["source"]["path"]
        for f in range(4):
            # offsets 10f..10f+9 plus one redelivery of the previous file
            offsets = list(range(10 * f, 10 * f + 10)) + ([10 * f - 1] if f else [])
            spark.createDataFrame(
                [
                    ("t", o % 2, o, datetime(2024, 1, 1, 0, f), json.dumps({"k": o, "v": "x"}))
                    for o in offsets
                ],
                REC_SCHEMA,
            ).coalesce(1).write.mode("append").parquet(src)
        app = build_app(spark, cfg)
        app.pipeline.run_available()
        last = max(committed_batches(app.sink))

        # the process dies after the sink commits `last`: the engine
        # holds no commit for it (nor for any no-data batch after it)
        chk = cfg["checkpoint"]
        for log, first_gone in (("commits", last), ("offsets", last + 1)):
            for name in os.listdir(os.path.join(chk, log)):
                n = name.lstrip(".").split(".")[0]
                if n.isdigit() and int(n) >= first_gone:
                    os.remove(os.path.join(chk, log, name))

        app = build_app(spark, cfg)
        app.pipeline.run_available()
        return app

    def test_restart_replays_batch_the_sink_already_committed(self, spark, tmp_path):
        """Crash after the sink's commit, before the engine's: the
        restart replays a batch the manifest already holds. The sink
        skips the write, but the dedup state store ahead of it must
        still commit that batch's state, or the replay fails with
        STATE_STORE_COMMIT_VALIDATION_FAILED."""
        app = self._crash_after_sink_commit(
            spark,
            self._config(tmp_path),
            lambda sink: [b.batch_id for b in sink.committed_batches()],
        )
        rows = app.sink.committed_data(spark).select("partition", "offset").collect()
        assert len(rows) == len(set(rows)) == 40

    def test_offsets_sink_restart_replays_batch_it_already_committed(self, spark, tmp_path):
        """The same crash with the in-row offsets sink: its replay of a
        committed batch must run the batch's plan too."""
        cfg = self._config(tmp_path)
        cfg["sink"] = {"type": "offsets", "path": str(tmp_path / "o")}
        app = self._crash_after_sink_commit(
            spark,
            cfg,
            lambda sink: [int(d.rsplit("=", 1)[1]) for d in sink._committed_dirs()],
        )
        rows = app.sink.table(spark).select("_partition", "_offset").collect()
        assert len(rows) == len(set(rows)) == 40

    def test_unknown_keys_raise(self, spark, tmp_path):
        cfg = self._config(tmp_path)
        cfg["sink"]["compresion"] = "zstd"  # typo'd key
        with pytest.raises(ValueError, match="compresion"):
            build_app(spark, cfg)

        cfg2 = self._config(tmp_path)
        cfg2["watermark"] = {"colunm": "ts"}
        with pytest.raises(ValueError, match="colunm"):
            build_app(spark, cfg2)

        # the trigger block rides straight into DataStreamWriter.trigger
        # kwargs: a typo must fail at validation, not at query start
        cfg3 = self._config(tmp_path)
        cfg3["trigger"] = {"procesingTime": "5 seconds"}
        with pytest.raises(ValueError, match="procesingTime"):
            build_app(spark, cfg3)

    def test_source_xor_kafka_enforced(self, spark, tmp_path):
        cfg = self._config(tmp_path)
        cfg["kafka"] = {"bootstrap-servers": "b:9092", "topic": "t"}
        with pytest.raises(ValueError, match="exactly one"):
            build_app(spark, cfg)
        del cfg["kafka"]
        del cfg["source"]
        with pytest.raises(ValueError, match="exactly one"):
            build_app(spark, cfg)

    def test_upsert_sink_from_config(self, spark, tmp_path):
        _write_source(spark, str(tmp_path / "src"))
        cfg = self._config(tmp_path)
        cfg["sink"] = {
            "type": "upsert",
            "path": str(tmp_path / "kv"),
            "key-columns": ["k"],
            "order-column": "offset",
        }
        app = build_app(spark, cfg)
        app.pipeline.run_available()
        state = app.sink.current_state(spark)
        assert state.count() == 20  # one row per key, latest wins



class TestManifestCommitShape:
    """A watermark + dedup + manifest pipeline commits a micro-batch in
    one task per file it writes: one data file per date per batch."""

    def _drain(self, spark, tmp_path):
        """Drain 3 files, one micro-batch each, whose rows straddle
        midnight, over 4 state partitions; returns the app and each
        commit's job group."""
        cfg = TestBuildApp()._config(tmp_path)
        cfg["source"]["options"] = {"maxFilesPerTrigger": 1}
        cfg["watermark"] = {"column": "ts", "delay": "3 minutes"}
        cfg["dedup"] = {"keys": ["topic", "partition", "offset"]}
        for f in range(3):
            spark.createDataFrame(
                [
                    # offsets 20f..20f+9 on Jan 1, 20f+10..20f+19 on Jan 2
                    ("t", o % 2, o, datetime(2024, 1, 1, 23, 59, 50) + timedelta(seconds=o % 20),
                     json.dumps({"k": o, "v": "x"}))
                    for o in range(20 * f, 20 * f + 20)
                ],
                REC_SCHEMA,
            ).coalesce(1).write.mode("append").parquet(cfg["source"]["path"])
        app = build_app(spark, cfg)
        sc = spark.sparkContext
        groups = []
        commit = app.sink.write_batch

        def grouped(batch_df, batch_id):
            group = f"manifest-commit-{tmp_path.name}-{batch_id}"
            sc.setJobGroup(group, "one manifest commit")
            try:
                commit(batch_df, batch_id)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            groups.append(group)

        app.sink.write_batch = grouped
        # the state store's partition count is pinned at first start
        prior = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            app.pipeline.run_available()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prior)
        return app, groups

    def test_one_data_file_per_date_per_batch(self, spark, tmp_path):
        app, _ = self._drain(spark, tmp_path)
        batches = app.sink.committed_batches()
        assert len(batches) == 3
        for b in batches:
            dates = sorted(os.listdir(b.data_dir))
            dates = [d for d in dates if d.startswith("dt=")]
            assert dates == ["dt=2024-01-01", "dt=2024-01-02"], (b.batch_id, dates)
            for d in dates:
                files = [
                    f for f in os.listdir(os.path.join(b.data_dir, d))
                    if not f.startswith((".", "_"))
                ]
                assert len(files) == 1, (b.batch_id, d, files)
        assert app.sink.committed_data(spark).count() == 60

    def test_commit_runs_at_most_seven_tasks(self, spark, tmp_path):
        """Two jobs: the source scan (1 task) and the stateful dedup (4)
        feed the ranges reduce (1), then the write (1)."""
        app, groups = self._drain(spark, tmp_path)
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        assert len(groups) == 3
        for group in groups:
            jobs = list(tracker.getJobIdsForGroup(group))
            assert len(jobs) == 2, (group, jobs)
            # a later job lists the stages it reuses: count each once
            stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
            tasks = sum(tracker.getStageInfo(s).numCompletedTasks for s in stages)
            assert 1 <= tasks <= 7, (group, tasks)

class TestConfigHardening:
    def test_dedup_block_validated(self, spark, tmp_path):
        cfg = {
            "source": {"type": "file", "path": str(tmp_path / "s"), "schema": REC_SCHEMA},
            "dedup": {"kyes": ["k"]},
            "sink": {"type": "manifest", "path": str(tmp_path / "o")},
            "checkpoint": str(tmp_path / "c"),
        }
        with pytest.raises(ValueError, match="kyes"):
            build_app(spark, cfg)
        cfg["dedup"] = {"keys": []}
        with pytest.raises(ValueError, match="non-empty"):
            build_app(spark, cfg)

    def test_quality_names_are_identifier_checked(self, spark):
        from stream_loader_spark.operators.quality import not_null, quality_report

        df = spark.range(3).select(F.col("id"))
        with pytest.raises(ValueError, match="identifier-like"):
            quality_report(df, {"bad' name": not_null("id")})


class TestCliEntry:
    def test_drain_via_main(self, spark, tmp_path):
        """python -m stream_loader_spark --config ... --drain, in-process
        (the running session is reused via getOrCreate)."""
        from stream_loader_spark.__main__ import main
        from stream_loader_spark.sinks.manifest import ManifestFileSink

        _write_source(spark, str(tmp_path / "src"))
        cfg = {
            "source": {"type": "file", "path": str(tmp_path / "src"), "schema": REC_SCHEMA},
            "format": {"type": "json", "schema": "k BIGINT, v STRING"},
            "sink": {"type": "manifest", "path": str(tmp_path / "out")},
            "checkpoint": str(tmp_path / "chk"),
        }
        cfg_path = str(tmp_path / "app.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)

        assert main(["--config", cfg_path, "--drain"]) == 0
        sink = ManifestFileSink(str(tmp_path / "out"))
        assert sink.committed_data(spark).count() == 20

    def test_bad_config_is_exit_code_1(self, tmp_path, capsys):
        from stream_loader_spark.__main__ import main

        bad = str(tmp_path / "bad.json")
        with open(bad, "w") as fh:
            fh.write('{"sink": {"type": "nope"}}')
        assert main(["--config", bad, "--drain"]) == 1
        assert "config error" in capsys.readouterr().err


class TestRequiredKeyValidation:
    def test_missing_required_sink_key_fails_at_validate(self, spark, tmp_path):
        """Regression: a sink block passing the unknown-key check but
        missing a required key crashed with KeyError mid-assembly;
        it must fail at validation with the missing keys named."""
        cfg = {
            "source": {"type": "file", "path": str(tmp_path / "s"), "schema": REC_SCHEMA},
            "sink": {"type": "upsert", "path": str(tmp_path / "o")},
            "checkpoint": str(tmp_path / "c"),
        }
        with pytest.raises(ValueError, match="key-columns"):
            build_app(spark, cfg)
        cfg["sink"] = {"type": "manifest"}
        with pytest.raises(ValueError, match="path"):
            build_app(spark, cfg)
        cfg["sink"] = {"type": "manifest", "path": str(tmp_path / "o")}
        cfg["format"] = {"type": "json"}
        with pytest.raises(ValueError, match="schema"):
            build_app(spark, cfg)
        # per-type unknown-key strictness: partition-by is not an
        # offsets-sink key
        cfg.pop("format")
        cfg["sink"] = {"type": "offsets", "path": str(tmp_path / "o"), "partition-by": "dt"}
        with pytest.raises(ValueError, match="partition-by"):
            build_app(spark, cfg)


class TestIngestSinksFromConfig:
    """The round-5 sinks are deployable through the same config artifact."""

    def _docs_source(self, spark, path, rows):
        spark.createDataFrame(
            [
                ("t", 0, i, datetime(2024, 1, 1), json.dumps({"doc_id": i, "text": t}))
                for i, t in rows
            ],
            REC_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(path)

    def test_dedup_ingest_sink_from_config(self, spark, tmp_path):
        self._docs_source(
            spark,
            str(tmp_path / "src"),
            [(1, "alpha"), (2, "beta"), (3, "alpha")],
        )
        cfg = {
            "source": {"type": "file", "path": str(tmp_path / "src"), "schema": REC_SCHEMA},
            "format": {"type": "json", "schema": "doc_id BIGINT, text STRING"},
            "sink": {"type": "dedup-ingest", "path": str(tmp_path / "corpus")},
            "checkpoint": str(tmp_path / "chk"),
        }
        app = build_app(spark, cfg)
        app.pipeline.run_available()
        kept = sorted(
            r["doc_id"] for r in app.sink.committed_corpus(spark).collect()
        )
        assert kept == [1, 2]  # in-batch dup dropped by the configured sink

    def test_new_sink_types_validate_keys(self, spark, tmp_path):
        base = {
            "source": {"type": "file", "path": str(tmp_path / "s"), "schema": REC_SCHEMA},
            "checkpoint": str(tmp_path / "chk"),
        }
        for sink in (
            {"type": "matview", "path": "p", "key-columns": ["k"]},  # missing value-columns
            {"type": "ivf", "path": "p", "num-centroidz": 4},  # typo'd key
            {"type": "dedup-ingest"},  # missing path
        ):
            with pytest.raises(ValueError):
                build_app(spark, {**base, "sink": sink})


class TestIvfFromConfig:
    def test_streamed_index_from_json_config(self, spark, tmp_path):
        """Config-driven ANN index: JSON records with an embedding array
        stream through the loader into a probeable IVF index."""
        import random

        rng = random.Random(7)
        rows = [
            (
                "t",
                0,
                i,
                datetime(2024, 1, 1),
                json.dumps(
                    {"vec_id": i, "embedding": [rng.uniform(-1, 1) for _ in range(8)]}
                ),
            )
            for i in range(30)
        ]
        spark.createDataFrame(rows, REC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp_path / "src"))
        cfg = {
            "source": {"type": "file", "path": str(tmp_path / "src"), "schema": REC_SCHEMA},
            "format": {"type": "json", "schema": "vec_id BIGINT, embedding ARRAY<FLOAT>"},
            "sink": {"type": "ivf", "path": str(tmp_path / "ivf"), "num-centroids": 4},
            "checkpoint": str(tmp_path / "chk"),
        }
        app = build_app(spark, cfg)
        app.pipeline.run_available()
        assert app.sink.assignments(spark).count() == 30
        q = app.sink.assignments(spark).where(F.col("vec_id") == 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        top = app.sink.topk(spark, q, k=3, nprobe=4).collect()
        assert len(top) == 3 and top[0]["cosine"] >= top[-1]["cosine"]


class TestMaintainCli:
    def test_maintain_compacts_dedup_state(self, spark, tmp_path):
        from stream_loader_spark.__main__ import main
        from stream_loader_spark.streaming.ingest import DedupIngestSink

        # three drained batches leave three hash dirs; --maintain folds them
        cfg = {
            "source": {"type": "file", "path": str(tmp_path / "src"), "schema": REC_SCHEMA},
            "format": {"type": "json", "schema": "doc_id BIGINT, text STRING"},
            "sink": {"type": "dedup-ingest", "path": str(tmp_path / "corpus")},
            "checkpoint": str(tmp_path / "chk"),
        }
        cfg_path = str(tmp_path / "app.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        for n, text in enumerate(["alpha", "beta", "gamma"]):
            spark.createDataFrame(
                [("t", 0, n, datetime(2024, 1, 1), json.dumps({"doc_id": n, "text": text}))],
                REC_SCHEMA,
            ).coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))
            assert main(["--config", cfg_path, "--drain"]) == 0

        hashes = str(tmp_path / "corpus" / "hashes")
        assert len([d for d in os.listdir(hashes) if d.startswith("batch=")]) == 3
        assert main(["--config", cfg_path, "--maintain"]) == 0
        assert len([d for d in os.listdir(hashes) if d.startswith("batch=")]) == 1
        # history still authoritative after maintenance
        sink = DedupIngestSink(str(tmp_path / "corpus"))
        assert sink._history(spark, exclude_batch=99).count() == 3

    def test_maintain_on_manifest_sink_and_vacuum_on_upsert(self, spark, tmp_path):
        from stream_loader_spark.__main__ import main

        _write_source(spark, str(tmp_path / "src"), n=10)
        cfg = {
            "source": {"type": "file", "path": str(tmp_path / "src"), "schema": REC_SCHEMA},
            "format": {"type": "json", "schema": "k BIGINT, v STRING"},
            "sink": {
                "type": "upsert",
                "path": str(tmp_path / "kv"),
                "key-columns": ["k"],
                "order-column": "offset",
            },
            "checkpoint": str(tmp_path / "chk"),
        }
        cfg_path = str(tmp_path / "app.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        assert main(["--config", cfg_path, "--drain"]) == 0
        _write_source(spark, str(tmp_path / "src"), n=10)
        assert main(["--config", cfg_path, "--drain"]) == 0
        assert (
            main(["--config", cfg_path, "--maintain", "--vacuum-keep-last", "1"]) == 0
        )


class TestDbSinksFromConfig:
    """The reference's raison d'être storages (K7-K9) are deployable
    through the same config artifact — a reference user's target DB is
    wired from JSON, not code."""

    def test_jdbc_txn_sqlite_end_to_end_with_restart(self, spark, tmp_path):
        """Config-assembled K8/K9 loader against real sqlite3: drain,
        verify data + offsets landed in ONE schema, then re-drain from a
        fresh checkpoint (full replay) and verify the A3 recovery keeps
        the target exactly-once."""
        import sqlite3

        src = str(tmp_path / "src")
        _write_source(spark, src, n=10)
        db = str(tmp_path / "target.sqlite")
        cfg = {
            "source": {"type": "file", "path": src, "schema": REC_SCHEMA},
            "sink": {
                "type": "jdbc-txn",
                "driver": "sqlite",
                "database": db,
                "data-table": "events",
                "offsets-table": "_offsets",
                "consumer-group": "cg1",
                "data-columns": ["topic", "partition", "offset", "props"],
            },
            "checkpoint": str(tmp_path / "chk1"),
        }
        build_app(spark, cfg).pipeline.run_available()
        con = sqlite3.connect(db)
        assert con.execute("SELECT COUNT(*) FROM events").fetchone()[0] == 10
        assert con.execute("SELECT COUNT(*) FROM _offsets").fetchone()[0] == 1
        con.close()

        # fresh checkpoint = full source replay; the sink must no-op
        cfg["checkpoint"] = str(tmp_path / "chk2")
        build_app(spark, cfg).pipeline.run_available()
        con = sqlite3.connect(db)
        assert con.execute("SELECT COUNT(*) FROM events").fetchone()[0] == 10
        con.close()

    def test_jdbc_txn_connect_source_is_exclusive(self, spark, tmp_path):
        base = {
            "source": {"type": "file", "path": str(tmp_path / "s"), "schema": REC_SCHEMA},
            "checkpoint": str(tmp_path / "chk"),
        }
        sink = {
            "type": "jdbc-txn",
            "data-table": "d",
            "offsets-table": "o",
            "consumer-group": "cg",
            "data-columns": ["topic"],
        }
        # neither connect nor driver+database
        with pytest.raises(ValueError, match="exactly one"):
            build_app(spark, {**base, "sink": dict(sink)})
        # both at once
        with pytest.raises(ValueError, match="exactly one"):
            build_app(
                spark,
                {**base, "sink": {**sink, "connect": "m:f", "driver": "sqlite", "database": "x"}},
            )
        # unknown driver
        with pytest.raises(ValueError, match="unknown jdbc-txn driver"):
            build_app(
                spark,
                {**base, "sink": {**sink, "driver": "oracle", "database": "x"}},
            )

    def test_clickhouse_sink_from_config_posts_tokened_inserts(self, spark, tmp_path):
        """Config-assembled K7 loader drains into the recording HTTP
        double: RowBinary blocks with dedup tokens, one per stream
        partition — the same wire behavior the direct-construction
        tests pin, now reachable from a deployment artifact."""
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
        from urllib.parse import parse_qs, urlparse

        requests = []

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                q = parse_qs(urlparse(self.path).query)
                self.rfile.read(int(self.headers.get("Content-Length", 0)))
                requests.append(
                    {
                        "query": q.get("query", [""])[0],
                        "token": q.get("insert_deduplication_token", [None])[0],
                    }
                )
                body = b'{"data": []}' if q.get("query", [""])[0].startswith("SELECT") else b""
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            src = str(tmp_path / "src")
            _write_source(spark, src, n=8)
            cfg = {
                "source": {"type": "file", "path": src, "schema": REC_SCHEMA},
                "sink": {
                    "type": "clickhouse",
                    "url": f"http://127.0.0.1:{srv.server_address[1]}",
                    "table": "db.events",
                    "columns": [
                        ["topic", "String"],
                        ["partition", "Int32"],
                        ["offset", "Int64"],
                    ],
                    "verify-dedup": False,
                },
                "checkpoint": str(tmp_path / "chk"),
            }
            build_app(spark, cfg).pipeline.run_available()
            inserts = [r for r in requests if r["query"].startswith("INSERT")]
            assert inserts, "no INSERT reached the double"
            assert all(
                r["query"] == "INSERT INTO db.events FORMAT RowBinary" for r in inserts
            )
            assert all(r["token"] for r in inserts)
        finally:
            srv.shutdown()

    def test_clickhouse_and_iceberg_config_keys_validated(self, spark, tmp_path):
        base = {
            "source": {"type": "file", "path": str(tmp_path / "s"), "schema": REC_SCHEMA},
            "checkpoint": str(tmp_path / "chk"),
        }
        for sink in (
            {"type": "clickhouse", "url": "http://x", "table": "t"},  # missing columns
            {"type": "clickhouse", "url": "http://x", "table": "t",
             "columns": [], "compresz": True},  # typo'd key
            {"type": "iceberg", "table": "cat.db.t"},  # missing consumer-group
        ):
            with pytest.raises(ValueError):
                build_app(spark, {**base, "sink": sink})
