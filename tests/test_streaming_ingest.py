"""Streaming corpus ingest: cross-batch dedup state (streaming/ingest.py)."""

import os

import pytest
from pyspark.sql import functions as F

from stream_loader_spark.sinks.table import BatchTable
from stream_loader_spark.streaming.ingest import DedupIngestSink

from conftest import JobGroup, job_group

DOC_SCHEMA = "doc_id long, text string"


def _table(root):
    """A one-part table ``h`` under ``root``."""
    return BatchTable(str(root), {"h": str(root / "h")})


def _append(spark, store, batch_id, vals):
    df = spark.createDataFrame([(v,) for v in vals], "h string")
    store.commit(batch_id, store.write(batch_id, {"h": df}))


def _gens(store):
    """The generations the table's newest compaction record lists."""
    return store._live()[0]


def _write_batch(spark, src, rows):
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode("append").parquet(src)


def _run_stream(spark, src, sink, cp):
    (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


class TestDedupIngest:
    def test_cross_batch_dedup(self, spark, tmp_path):
        src = str(tmp_path / "src")
        cp = str(tmp_path / "cp")
        sink = DedupIngestSink(str(tmp_path / "out"))

        # batch 1: two unique + one in-batch dup
        _write_batch(spark, src, [(1, "alpha"), (2, "beta"), (3, "alpha")])
        # batch 2: one repeat of batch 1, one novel
        _write_batch(spark, src, [(4, "beta"), (5, "gamma")])
        _run_stream(spark, src, sink, cp)

        corpus = sink.committed_corpus(spark)
        kept = sorted(r["doc_id"] for r in corpus.collect())
        assert kept == [1, 2, 5]  # 3 = in-batch dup, 4 = historical dup

    def test_restart_continues_history(self, spark, tmp_path):
        src = str(tmp_path / "src")
        cp = str(tmp_path / "cp")
        sink = DedupIngestSink(str(tmp_path / "out"))

        _write_batch(spark, src, [(1, "alpha")])
        _run_stream(spark, src, sink, cp)
        # second run, same checkpoint: new file with one dup + one novel
        _write_batch(spark, src, [(2, "alpha"), (3, "delta")])
        _run_stream(spark, src, sink, cp)

        kept = sorted(r["doc_id"] for r in sink.committed_corpus(spark).collect())
        assert kept == [1, 3]

    def test_batch_replay_does_not_double_count(self, spark, tmp_path):
        """Replaying a batch (same batch id) must treat its own previous
        write as uncommitted: same survivors, no self-dedup."""
        sink = DedupIngestSink(str(tmp_path / "out"))
        b = spark.createDataFrame([(1, "alpha"), (2, "beta")], DOC_SCHEMA)
        sink(b, 7)
        sink(b, 7)  # replay
        kept = sorted(r["doc_id"] for r in sink.committed_corpus(spark).collect())
        assert kept == [1, 2]
        # exactly one hash dir, containing both hashes once
        hashes = spark.read.parquet(
            os.path.join(str(tmp_path / "out"), "hashes", "batch=7")
        )
        assert hashes.count() == 2

    def test_history_excludes_only_own_batch(self, spark, tmp_path):
        sink = DedupIngestSink(str(tmp_path / "out"))
        sink(spark.createDataFrame([(1, "alpha")], DOC_SCHEMA), 0)
        sink(spark.createDataFrame([(2, "alpha"), (3, "eps")], DOC_SCHEMA), 1)
        # replay batch 1: batch 0's alpha still blocks doc 2
        sink(spark.createDataFrame([(2, "alpha"), (3, "eps")], DOC_SCHEMA), 1)
        kept = sorted(r["doc_id"] for r in sink.committed_corpus(spark).collect())
        assert kept == [1, 3]


NEAR_A = "w1 w2 w3 w4 w5 w6 w7 w8"
NEAR_A2 = "w1 w2 w3 w4 w5 w6 w7 zz"  # 3-gram jaccard ~0.71 with NEAR_A
OTHER = "q1 q2 q3 q4 q5 q6 q7 q8"


class TestNearDupIngest:
    def test_history_wins_and_batch_clusters_keep_min_id(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import NearDupIngestSink

        sink = NearDupIngestSink(str(tmp_path / "out"))
        # batch 0: near-dup pair in-batch (1,2) -> keep 1; plus 5
        b0 = spark.createDataFrame(
            [(1, NEAR_A), (2, NEAR_A2), (5, OTHER)], DOC_SCHEMA
        )
        sink(b0, 0)
        kept0 = sorted(r["doc_id"] for r in sink.committed_corpus(spark).collect())
        assert kept0 == [1, 5]

        # batch 1: 7 near-dups history's 1 -> dropped; 9 novel -> kept
        b1 = spark.createDataFrame(
            [(7, NEAR_A), (9, "z1 z2 z3 z4 z5 z6")], DOC_SCHEMA
        )
        sink(b1, 1)
        kept = sorted(r["doc_id"] for r in sink.committed_corpus(spark).collect())
        assert kept == [1, 5, 9]

    def test_replay_is_idempotent(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import NearDupIngestSink

        sink = NearDupIngestSink(str(tmp_path / "out"))
        b0 = spark.createDataFrame([(1, NEAR_A), (5, OTHER)], DOC_SCHEMA)
        sink(b0, 0)
        b1 = spark.createDataFrame([(7, NEAR_A)], DOC_SCHEMA)
        sink(b1, 1)
        sink(b1, 1)  # replay must re-drop 7 (its own bands are not history)
        kept = sorted(r["doc_id"] for r in sink.committed_corpus(spark).collect())
        assert kept == [1, 5]

    def test_commit_opens_each_live_record_once(self, spark, tmp_path, monkeypatch):
        """The corpus and band reads of one commit share one reading of
        the log: after 30 commits, the next opens 30 records."""
        from stream_loader_spark.sinks import manifest as manifest_mod
        from stream_loader_spark.streaming.ingest import NearDupIngestSink

        sink = NearDupIngestSink(str(tmp_path / "out"))
        sink(spark.createDataFrame([(1, NEAR_A), (5, OTHER)], DOC_SCHEMA), 0)
        for b in range(1, 30):
            sink.store.commit(b, {"corpus": 0, "bands": 0})  # dataless batches

        opened = []

        def counting_open(path, *args, **kwargs):
            opened.append(os.path.basename(path))
            return open(path, *args, **kwargs)

        monkeypatch.setattr(manifest_mod, "open", counting_open, raising=False)
        sink(spark.createDataFrame([(7, NEAR_A2), (9, "z1 z2 z3 z4 z5 z6")], DOC_SCHEMA), 30)
        monkeypatch.undo()
        assert len([n for n in opened if n.startswith("batch-")]) == 30
        kept = sorted(r["doc_id"] for r in sink.committed_corpus(spark).collect())
        assert kept == [1, 5, 9]

    def test_mismatched_banding_scheme_is_refused(self, spark, tmp_path):
        """An index persisted under one banding scheme must not be
        probed by a build with another: band hashes across schemes
        never collide meaningfully, so the failure mode is silent
        recall loss — the sink must refuse loudly instead."""
        import json

        from stream_loader_spark.streaming.ingest import NearDupIngestSink

        out = str(tmp_path / "out")
        sink = NearDupIngestSink(out)
        b0 = spark.createDataFrame([(1, NEAR_A)], DOC_SCHEMA)
        sink(b0, 0)
        # same scheme reopens fine
        NearDupIngestSink(out)
        # forge a foreign scheme stamp — reopen must raise, not probe
        with open(os.path.join(out, "scheme.json"), "w") as fh:
            json.dump({"scheme": "xxh64-seeded-h64-b16-s3"}, fh)
        with pytest.raises(ValueError, match="scheme"):
            NearDupIngestSink(out)

    def test_legacy_index_without_scheme_stamp_is_refused(self, spark, tmp_path):
        """A pre-stamping index (band/doc data, NO scheme.json) was
        built from an unknown hash family — the guard must fail
        CLOSED, not stamp it with the current scheme and silently
        probe it (the exact recall loss it exists to prevent). Only a
        genuinely fresh out_dir gets stamped."""
        from stream_loader_spark.streaming.ingest import NearDupIngestSink

        out = str(tmp_path / "out")
        sink = NearDupIngestSink(out)
        b0 = spark.createDataFrame([(1, NEAR_A)], DOC_SCHEMA)
        sink(b0, 0)
        os.remove(os.path.join(out, "scheme.json"))  # simulate legacy index
        with pytest.raises(ValueError, match="no scheme.json"):
            NearDupIngestSink(out)

    def test_streamed_end_to_end(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import NearDupIngestSink

        src = str(tmp_path / "src")
        sink = NearDupIngestSink(str(tmp_path / "out"))
        _write_batch(spark, src, [(1, NEAR_A), (5, OTHER)])
        _write_batch(spark, src, [(7, NEAR_A2), (9, "z1 z2 z3 z4 z5 z6")])
        _run_stream(spark, src, sink, str(tmp_path / "cp"))
        kept = sorted(r["doc_id"] for r in sink.committed_corpus(spark).collect())
        assert kept == [1, 5, 9]


class TestIndexGrowthGuard:
    """Persisted LSH indexes freeze their banding at build time while
    the auto-sizers size with the live corpus — growth past the factor
    must turn LOUD (warning + status) and reband() must re-baseline."""

    def test_growth_past_factor_warns_and_reband_recovers(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import NearDupIngestSink

        sink = NearDupIngestSink(str(tmp_path / "out"), growth_factor=4.0)
        sink(spark.createDataFrame([(1, NEAR_A), (5, OTHER)], DOC_SCHEMA), 0)
        st = sink.growth.status()
        assert st["built_n"] == 2 and not st["needs_rebuild"]

        # grow the corpus past 4x: the batch AFTER the crossing probes
        # an index whose geometry was sized for a quarter of the corpus
        novel = [
            (10 + i, f"n{i}a n{i}b n{i}c n{i}d n{i}e n{i}f") for i in range(8)
        ]
        with pytest.warns(RuntimeWarning, match="grown"):
            sink(spark.createDataFrame(novel, DOC_SCHEMA), 1)
            sink(
                spark.createDataFrame([(30, "x1 x2 x3 x4 x5 x6")], DOC_SCHEMA), 2
            )
        assert sink.growth.status()["needs_rebuild"]

        # reband under a new banding: rebuilt from the docs state,
        # guard re-baselined, history still blocks near-dups
        assert sink.reband(spark, num_bands=8) > 0
        assert not sink.growth.status()["needs_rebuild"]
        assert sink.num_bands == 8
        sink(spark.createDataFrame([(40, NEAR_A)], DOC_SCHEMA), 3)
        kept = sorted(r["doc_id"] for r in sink.committed_corpus(spark).collect())
        assert 40 not in kept and 1 in kept

    def test_replay_does_not_double_count_growth(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import NearDupIngestSink

        sink = NearDupIngestSink(str(tmp_path / "out"))
        b = spark.createDataFrame([(1, NEAR_A), (5, OTHER)], DOC_SCHEMA)
        sink(b, 0)
        sink(b, 0)  # replay
        assert sink.growth.status()["live_n"] == 2

    def test_late_backfill_counts_despite_lower_id(self, tmp_path):
        """A reserved NEGATIVE backfill id ingested AFTER normal stream
        batches sits outside the monotone id space: it must still add
        to live_n (order-based replay detection would drop it and the
        growth warning would fire late), while a REPLAY of the same
        backfill id stays a no-op."""
        from stream_loader_spark.streaming.ingest import IndexGrowthGuard

        g = IndexGrowthGuard(str(tmp_path))
        g.observe(10, 0)
        g.observe(10, 1)
        g.observe(100, -1)  # late backfill: id below last_batch
        assert g.status()["live_n"] == 120
        g.observe(100, -1)  # backfill replay: exact-id no-op
        assert g.status()["live_n"] == 120
        g.observe(50, -2)  # a DIFFERENT reserved id counts
        assert g.status()["live_n"] == 170
        g.observe(10, 1)  # stream replay still a no-op
        g.observe(10, 2)  # and the stream keeps counting
        assert g.status()["live_n"] == 180

    def test_interrupted_reband_fails_closed_then_completes(self, spark, tmp_path):
        import json

        from stream_loader_spark.streaming.ingest import NearDupIngestSink

        out = str(tmp_path / "out")
        sink = NearDupIngestSink(out, num_bands=8)
        sink(spark.createDataFrame([(1, NEAR_A), (5, OTHER)], DOC_SCHEMA), 0)
        # simulate a crash between the band rewrite and the re-stamp
        with open(os.path.join(out, "scheme.json")) as fh:
            scheme = json.load(fh)["scheme"]
        with open(os.path.join(out, "scheme.json"), "w") as fh:
            json.dump({"scheme": scheme, "rebanding": True}, fh)

        # a different banding must not adopt the half-rebanded index
        with pytest.raises(ValueError, match="interrupted"):
            NearDupIngestSink(out)  # default bands != 8
        # the matching banding reopens but probing fails closed ...
        again = NearDupIngestSink(out, num_bands=8)
        with pytest.raises(ValueError, match="rerun reband"):
            again(spark.createDataFrame([(9, NEAR_A2)], DOC_SCHEMA), 1)
        # ... until reband() finishes the rebuild
        assert again.reband(spark) > 0
        again(spark.createDataFrame([(9, NEAR_A2)], DOC_SCHEMA), 1)
        kept = sorted(r["doc_id"] for r in again.committed_corpus(spark).collect())
        assert kept == [1, 5]  # 9 near-dups history's 1 across the reband

    def test_ivf_retrain_reassigns_and_rebaselines(self, spark, tmp_path):
        """retrain(): new quantizer from the grown corpus, every vector
        reassigned, guard re-baselined — and the exhaustive probe
        (nprobe >= C, exact by construction) returns identical results
        across the retrain."""
        from stream_loader_spark.streaming.ingest import IvfIngestSink

        sink = IvfIngestSink(
            str(tmp_path / "ivf"), num_centroids=4, kmeans_iterations=0
        )
        helper = TestIvfIngest()
        sink(helper._vecs(spark, 0, 16), 0)
        sink(helper._vecs(spark, 16, 64), 1)
        q = spark.createDataFrame(
            [(100, [0.3] * 8), (101, [-0.2] * 8)],
            "query_id long, query_vec array<float>",
        )
        before = sorted(tuple(r) for r in sink.topk(spark, q, k=3, nprobe=8).collect())

        n = sink.retrain(spark, num_centroids=8)
        assert n == 64  # every vector reassigned
        assert sink.centroids(spark).count() == 8
        st = sink.growth.status()
        assert st["built_n"] == st["live_n"] == 64 and not st["needs_rebuild"]
        after = sorted(tuple(r) for r in sink.topk(spark, q, k=3, nprobe=8).collect())
        assert before == after
        # the index keeps ingesting and probing after the swap
        sink(helper._vecs(spark, 64, 72), 2)
        assert sink.assignments(spark).count() == 72

    def test_ivf_sink_warns_on_growth(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import IvfIngestSink

        sink = IvfIngestSink(
            str(tmp_path / "ivf"), num_centroids=4, kmeans_iterations=0
        )
        sink.growth.growth_factor = 2.0
        vecs = TestIvfIngest()._vecs(spark, 0, 8)
        sink(vecs, 0)  # trains + baselines at 8
        with pytest.warns(RuntimeWarning, match="grown"):
            sink(TestIvfIngest()._vecs(spark, 8, 40), 1)  # 5x growth
        with pytest.warns(RuntimeWarning, match="grown"):
            sink.topk(
                spark,
                spark.createDataFrame(
                    [(0, [0.1] * 8)], "query_id long, query_vec array<float>"
                ),
                k=1,
            ).collect()


class TestIvfIngest:
    """streaming/ingest.py::IvfIngestSink — streamed ANN index."""

    VEC_SCHEMA = "vec_id long, embedding array<float>"

    def _vecs(self, spark, lo, hi, dim=8):
        rows = [
            (i, [float(((i * 31 + p * 17) % 19) - 9) / 9.0 for p in range(dim)])
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(rows, self.VEC_SCHEMA)

    def _write(self, spark, src, lo, hi):
        self._vecs(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)

    def _run(self, spark, src, sink, cp):
        (
            spark.readStream.schema(self.VEC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    def test_streamed_index_is_complete_and_probeable(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import IvfIngestSink

        src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
        sink = IvfIngestSink(str(tmp_path / "ivf"), num_centroids=4)
        self._write(spark, src, 0, 40)
        self._write(spark, src, 40, 80)
        self._run(spark, src, sink, cp)

        idx = sink.assignments(spark)
        assert idx.count() == 80  # every streamed vector is indexed once
        assert idx.select("vec_id").distinct().count() == 80
        # Hive layout: probes prune to cluster_id=<c> directories
        b0 = os.path.join(str(tmp_path / "ivf"), "assignments", "batch=0")
        assert any(d.startswith("cluster_id=") for d in os.listdir(b0))

        # an exhaustive probe (nprobe = C) is exact: vector 7's copy
        # under a fresh id must be its own top match
        dup = spark.createDataFrame(
            [(999, self._vecs(spark, 7, 8).collect()[0]["embedding"])],
            self.VEC_SCHEMA,
        )
        self._write(spark, src, 999, 999)  # no-op append keeps dirs valid
        sink(dup, 97)  # direct batch write of the duplicate
        q = self._vecs(spark, 7, 8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        # the generator repeats with period 19 in the id, so vec 7 has
        # exact copies at 26/45/64 too — all must rank with cosine 1.0,
        # ties broken by id, with the injected 999 among them
        top = sink.topk(spark, q, k=4, nprobe=4).collect()
        assert [r["match_id"] for r in top] == [26, 45, 64, 999]
        assert all(r["cosine"] == 1.0 for r in top)

    def test_quantizer_frozen_across_restart(self, spark, tmp_path):
        """The first batch trains the quantizer; later batches (and a
        sink rebuilt over the same directory) must reuse it unchanged —
        per-batch drift would strand earlier assignments."""
        from stream_loader_spark.streaming.ingest import IvfIngestSink

        src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
        out = str(tmp_path / "ivf")
        sink = IvfIngestSink(out, num_centroids=4)
        self._write(spark, src, 0, 30)
        self._run(spark, src, sink, cp)
        before = sorted(
            (r["centroid_id"], tuple(r["centroid_vec"]))
            for r in sink.centroids(spark).collect()
        )

        sink2 = IvfIngestSink(out, num_centroids=4)  # restart
        self._write(spark, src, 30, 60)
        self._run(spark, src, sink2, cp)
        after = sorted(
            (r["centroid_id"], tuple(r["centroid_vec"]))
            for r in sink2.centroids(spark).collect()
        )
        assert before == after
        assert sink2.assignments(spark).count() == 60

    def test_replay_is_idempotent(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import IvfIngestSink

        sink = IvfIngestSink(str(tmp_path / "ivf"), num_centroids=4)
        batch = self._vecs(spark, 0, 20)
        sink(batch, 0)
        once = sink.assignments(spark).count()
        sink(batch, 0)  # at-least-once redelivery of the SAME batch
        assert sink.assignments(spark).count() == once == 20


def _jobs_after_last_write(spark, action):
    """Run ``action``; return its result and the number of Spark jobs
    that ran after its last parquet write (each write opens a fresh job
    group, so the last group holds exactly those jobs)."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def grouped(self, *args, **kwargs):
        real(self, *args, **kwargs)
        groups.append(JobGroup(spark).start())

    with pytest.MonkeyPatch.context() as mp, job_group(spark) as first:
        groups = [first]
        mp.setattr(DataFrameWriter, "parquet", grouped)
        out = action()
    return out, len(groups[-1].job_ids())


class TestCountsRideTheWrites:
    """Row counts a sink or a compaction needs are observed on the write
    it already runs: no Spark job runs after the last write to count."""

    def test_near_dup_growth_count_runs_no_job(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import NearDupIngestSink

        sink = NearDupIngestSink(str(tmp_path / "out"))
        b0 = spark.createDataFrame([(1, NEAR_A), (2, NEAR_A2), (5, OTHER)], DOC_SCHEMA)
        _, jobs = _jobs_after_last_write(spark, lambda: sink(b0, 0))
        assert jobs == 0
        assert sink.growth.status() == {
            "built_n": 2, "live_n": 2, "growth": 1.0, "needs_rebuild": False
        }
        # an all-duplicate batch observes 0 survivors
        _, jobs = _jobs_after_last_write(
            spark, lambda: sink(spark.createDataFrame([(7, NEAR_A)], DOC_SCHEMA), 1)
        )
        assert jobs == 0
        assert sink.growth.status()["live_n"] == 2

    def test_ivf_growth_count_runs_no_job(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import IvfIngestSink

        sink = IvfIngestSink(str(tmp_path / "ivf"), num_centroids=4)
        mk = TestIvfIngest()._vecs
        for n, (lo, hi) in enumerate([(0, 20), (20, 40)]):
            _, jobs = _jobs_after_last_write(spark, lambda: sink(mk(spark, lo, hi), n))
            assert jobs == 0
        assert sink.growth.status() == {
            "built_n": 20, "live_n": 40, "growth": 2.0, "needs_rebuild": False
        }

    def test_compaction_runs_no_read_back_job(self, spark, tmp_path):
        store = _table(tmp_path / "state")
        for n in range(3):
            _append(spark, store, n, [f"h{n}-{i}" for i in range(n + 1)])
        folded, jobs = _jobs_after_last_write(spark, lambda: store.compact(spark))
        assert (folded, jobs) == ({"h": 6}, 0)  # batches 0-2: 1 + 2 + 3 rows


class TestCommitRecord:
    @pytest.mark.parametrize("kind", ["dedup", "near_dup"])
    def test_uncommitted_corpus_dir_is_invisible(self, spark, tmp_path, kind):
        """A ``corpus/batch=<n>`` dir written with no commit record (a
        batch that crashed before its record) is not part of the
        committed corpus."""
        from stream_loader_spark.streaming.ingest import NearDupIngestSink

        cls = DedupIngestSink if kind == "dedup" else NearDupIngestSink
        out = str(tmp_path / "out")
        sink = cls(out)
        sink(spark.createDataFrame([(1, NEAR_A), (5, OTHER)], DOC_SCHEMA), 0)
        spark.createDataFrame([(9, "z1 z2 z3 z4 z5 z6")], DOC_SCHEMA).write.parquet(
            os.path.join(out, "corpus", "batch=1")
        )
        kept = sorted(r["doc_id"] for r in cls(out).committed_corpus(spark).collect())
        assert kept == [1, 5]


class TestIngestCompaction:
    """The ingest sinks' batch-directory tables (sinks/table.py) —
    bounded state directories."""

    def _batch_dirs(self, root):
        return sorted(d for d in os.listdir(root) if d.startswith("batch="))

    def test_dedup_history_survives_compaction(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import DedupIngestSink

        sink = DedupIngestSink(str(tmp_path / "out"))
        for n, rows in enumerate(
            [[(1, "alpha")], [(2, "beta")], [(3, "gamma")], [(4, "delta")]]
        ):
            sink(spark.createDataFrame(rows, DOC_SCHEMA), n)
        # every committed batch folds: a replay of any of them is a
        # no-op by its record, so none has to stay a batch dir
        assert sink.compact(spark) == {"corpus": 4, "hashes": 4}
        sink.vacuum()
        hashes_root = os.path.join(str(tmp_path / "out"), "hashes")
        assert self._batch_dirs(hashes_root) == []

        # compacted history still blocks every old duplicate
        sink(spark.createDataFrame([(5, "alpha"), (6, "epsilon")], DOC_SCHEMA), 4)
        kept = sorted(r["doc_id"] for r in sink.committed_corpus(spark).collect())
        assert kept == [1, 2, 3, 4, 6]

    def test_replay_exclusion_survives_compaction(self, spark, tmp_path):
        """A batch folded by compaction and vacuumed stays committed: its
        replay is a no-op, so its own rows never dedup it as history."""
        from stream_loader_spark.streaming.ingest import DedupIngestSink

        sink = DedupIngestSink(str(tmp_path / "out"))
        sink(spark.createDataFrame([(1, "alpha")], DOC_SCHEMA), 0)
        sink(spark.createDataFrame([(2, "beta")], DOC_SCHEMA), 1)
        sink.compact(spark)
        sink.vacuum()
        # replay batch 1: its own 'beta' must not look like history
        sink(spark.createDataFrame([(2, "beta")], DOC_SCHEMA), 1)
        kept = sorted(r["doc_id"] for r in sink.committed_corpus(spark).collect())
        assert kept == [1, 2]

    def test_ivf_index_identical_after_compaction(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import IvfIngestSink

        sink = IvfIngestSink(str(tmp_path / "ivf"), num_centroids=4)
        mk = TestIvfIngest()._vecs
        for n, (lo, hi) in enumerate([(0, 20), (20, 40), (40, 60)]):
            sink(mk(spark, lo, hi), n)
        before = sorted(
            (r["vec_id"], r["cluster_id"])
            for r in sink.assignments(spark).collect()
        )
        assert sink.compact(spark) == {"assignments": 60}
        after = sorted(
            (r["vec_id"], r["cluster_id"])
            for r in sink.assignments(spark).collect()
        )
        assert after == before
        # cluster partition layout is preserved in the generation dir
        (gen,) = [g["gen"] for g in _gens(sink.store)]
        gen_dir = os.path.join(str(tmp_path / "ivf"), "assignments", f"gen={gen}")
        assert any(d.startswith("cluster_id=") for d in os.listdir(gen_dir))

    def test_repeated_compaction_never_double_counts(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import DedupIngestSink

        sink = DedupIngestSink(str(tmp_path / "out"))
        for n in range(3):
            sink(spark.createDataFrame([(n, f"doc{n}")], DOC_SCHEMA), n)
        sink.compact(spark)
        assert sink.compact(spark) == {}  # nothing new: no-op, same gen
        sink(spark.createDataFrame([(9, "doc9")], DOC_SCHEMA), 3)
        sink.compact(spark)  # folds the generation + batch 3 into a new one
        hist = sink._history(spark)
        # docs 0-2 and doc9 once each, from the one live generation
        assert hist.count() == hist.distinct().count() == 4
        assert len(_gens(sink.store)) == 1

    def test_crash_before_meta_flip_keeps_old_state(self, spark, tmp_path):
        """Compaction commits at its record: dying after writing the new
        generation but before the record must leave readers on the
        original directories (the orphan gen is never referenced)."""
        from stream_loader_spark.streaming.ingest import DedupIngestSink
        import stream_loader_spark.sinks.manifest as manifest_mod

        sink = DedupIngestSink(str(tmp_path / "out"))
        for n in range(3):
            sink(spark.createDataFrame([(n, f"doc{n}")], DOC_SCHEMA), n)

        def crashing(dir_path, record, final_name):
            raise RuntimeError("crash before meta flip")

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(manifest_mod, "atomic_write_json", crashing)
            with pytest.raises(RuntimeError):
                sink.compact(spark)
        hashes_root = os.path.join(str(tmp_path / "out"), "hashes")
        assert self._batch_dirs(hashes_root) == ["batch=0", "batch=1", "batch=2"]
        assert sink._history(spark).count() == 3
        # the next compaction recovers and commits cleanly
        assert sink.compact(spark) == {"corpus": 3, "hashes": 3}
        assert sink._history(spark).count() == 3

    @pytest.mark.parametrize("fold", ["compact", "replace_all"])
    def test_generation_left_by_crash_mid_sweep_is_deleted(self, spark, tmp_path, fold):
        """A crash while vacuum deletes a superseded generation leaves
        that generation on disk: the next vacuum deletes it."""
        import shutil

        store = _table(tmp_path / "state")
        for n in range(3):
            _append(spark, store, n, [f"h{n}"])
        store.compact(spark)  # one generation holds batches 0-2
        _append(spark, store, 3, ["h3"])
        store.compact(spark)  # a new one holds it and batch 3
        real = shutil.rmtree

        def crashing(path, *args, **kwargs):
            if os.path.basename(path).startswith("gen="):
                raise RuntimeError("crash mid-sweep")
            real(path, *args, **kwargs)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(shutil, "rmtree", crashing)
            with pytest.raises(RuntimeError):
                store.vacuum()  # dies deleting the first generation

        def gen_dirs():
            return sorted(e for e in os.listdir(store.parts["h"]) if e.startswith("gen="))

        assert len(gen_dirs()) == 2
        assert sorted(r.h for r in store.read(spark, "h").collect()) == ["h0", "h1", "h2", "h3"]

        _append(spark, store, 4, ["h4"])
        if fold == "compact":
            store.compact(spark)
        else:
            rows = spark.createDataFrame([(f"h{n}",) for n in range(5)], "h string")
            store.replace_all(spark, {"h": rows})
        store.vacuum()
        assert gen_dirs() == [f"gen={g['gen']}" for g in _gens(store)]
        assert [e for e in os.listdir(store.parts["h"]) if e.startswith("batch=")] == []
        assert sorted(r.h for r in store.read(spark, "h").collect()) == [f"h{n}" for n in range(5)]

    def test_generation_left_by_fold_crash_before_its_record_is_deleted(self, spark, tmp_path):
        """A fold that dies before its record leaves a generation no
        record names; once a later fold takes a higher id, vacuum
        deletes it."""
        import stream_loader_spark.sinks.manifest as manifest_mod

        store = _table(tmp_path / "state")
        for n in range(3):
            _append(spark, store, n, [f"h{n}"])

        def crashing(dir_path, record, final_name):
            raise RuntimeError("crash before the compaction record")

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(manifest_mod, "atomic_write_json", crashing)
            with pytest.raises(RuntimeError):
                store.compact(spark)

        def gen_dirs():
            return sorted(e for e in os.listdir(store.parts["h"]) if e.startswith("gen="))

        assert gen_dirs() == ["gen=3"]
        _append(spark, store, 3, ["h3"])  # the rerun fold now takes id 4
        store.compact(spark)
        store.vacuum()
        assert [g["gen"] for g in _gens(store)] == [4]
        assert gen_dirs() == ["gen=4"]
        assert sorted(r.h for r in store.read(spark, "h").collect()) == [f"h{n}" for n in range(4)]

    def test_vacuum_keeps_generations_above_the_newest_record(self, spark, tmp_path):
        """A generation above the newest compaction's id may belong to a
        fold still writing: vacuum leaves it."""
        store = _table(tmp_path / "state")
        for n in range(2):
            _append(spark, store, n, [f"h{n}"])
        store.compact(spark)
        in_progress = os.path.join(store.parts["h"], "gen=5")
        spark.createDataFrame([("x",)], "h string").write.parquet(in_progress)
        store.vacuum()
        assert os.path.isdir(in_progress)
        assert sorted(r.h for r in store.read(spark, "h").collect()) == ["h0", "h1"]


class TestCompactionHardening:
    def test_all_empty_fold_still_bounds_directories(self, spark, tmp_path):
        """An all-duplicate stream writes one EMPTY hash dir per trigger;
        compaction and vacuum must still drop them."""
        from stream_loader_spark.streaming.ingest import DedupIngestSink

        # pure all-empty prefix (no generation yet): the records count
        # no rows, the fold writes nothing and vacuum drops the dirs
        store = _table(tmp_path / "empties")
        for n in range(3):
            _append(spark, store, n, [])
        assert store.compact(spark) == {"h": 0}
        store.vacuum()
        assert os.listdir(store.parts["h"]) == []
        assert store.read(spark, "h", "h string").count() == 0

        # duplicate stream over a real generation: empty dirs fold away
        # on every pass, directory count stays bounded
        sink = DedupIngestSink(str(tmp_path / "out"))
        sink(spark.createDataFrame([(1, "alpha")], DOC_SCHEMA), 0)
        for n in (1, 2, 3):  # all duplicates -> empty hash batch dirs
            sink(spark.createDataFrame([(n + 10, "alpha")], DOC_SCHEMA), n)
        sink.compact(spark)
        sink.vacuum()
        sink(spark.createDataFrame([(20, "alpha")], DOC_SCHEMA), 4)
        sink.compact(spark)
        sink.vacuum()
        hashes_root = os.path.join(str(tmp_path / "out"), "hashes")
        dirs = [d for d in os.listdir(hashes_root) if d.startswith("batch=")]
        assert dirs == []  # empties dropped despite no new rows
        # and history is still authoritative
        sink(spark.createDataFrame([(30, "alpha"), (31, "new")], DOC_SCHEMA), 5)
        kept = sorted(r["doc_id"] for r in sink.committed_corpus(spark).collect())
        assert kept == [1, 31]

    def test_unreadable_state_fails_compaction_loudly(self, spark, tmp_path):
        """A batch dir that LISTS as non-empty but cannot be READ must
        abort compaction (and leave every directory in place) — treating
        it as empty would fold without it and then delete it."""
        from stream_loader_spark.streaming.ingest import DedupIngestSink

        sink = DedupIngestSink(str(tmp_path / "out"))
        for n in range(3):
            sink(spark.createDataFrame([(n, f"doc{n}")], DOC_SCHEMA), n)
        hashes_root = os.path.join(str(tmp_path / "out"), "hashes")
        b0 = os.path.join(hashes_root, "batch=0")
        for f in os.listdir(b0):
            if f.endswith(".parquet"):
                with open(os.path.join(b0, f), "wb") as fh:
                    fh.write(b"not parquet at all")
        with pytest.raises(Exception):
            sink.compact(spark)
        dirs = sorted(d for d in os.listdir(hashes_root) if d.startswith("batch="))
        assert dirs == ["batch=0", "batch=1", "batch=2"]  # nothing deleted

    def test_partial_centroids_dir_does_not_freeze(self, spark, tmp_path):
        """A centroids directory left WITHOUT data files by a crashed
        write must not read as a trained quantizer."""
        from stream_loader_spark.streaming.ingest import IvfIngestSink

        out = str(tmp_path / "ivf")
        sink = IvfIngestSink(out, num_centroids=4)
        cdir = os.path.join(out, "centroids")
        os.makedirs(cdir)
        open(os.path.join(cdir, "_SUCCESS"), "w").close()  # no part files
        assert sink.centroids(spark) is None
        sink(TestIvfIngest()._vecs(spark, 0, 20), 0)  # trains + publishes
        assert sink.centroids(spark) is not None
        assert sink.assignments(spark).count() == 20


class TestCompactionModelBased:
    def test_random_write_compact_sequences_match_reference(self, spark, tmp_path):
        """Model-based durability: ANY interleaving of committed
        batches, batches that crash before their record, replays of
        committed batches, full and tiered compactions and vacuums
        leaves the readable state equal to a dict model of the
        committed records. Folds, vacuums and unrecorded dirs must be
        invisible to readers."""
        import random

        rng = random.Random(814)
        for trial in range(3):
            store = _table(tmp_path / f"s{trial}")
            model: dict[int, list[str]] = {}
            next_batch = 0
            for _ in range(12):
                op = rng.random()
                rows = [f"b{next_batch}r{i}" for i in range(rng.randint(0, 3))]
                df = spark.createDataFrame([(v,) for v in rows], "h string")
                if op < 0.5:
                    # overwrites what a crashed attempt at this id wrote
                    store.commit(next_batch, store.write(next_batch, {"h": df}))
                    model[next_batch] = rows
                    next_batch += 1
                elif op < 0.65:
                    store.write(next_batch, {"h": df})  # crash before the record
                elif op < 0.75 and model:
                    # replay of the newest committed batch: a no-op
                    assert store.replayed(df, next_batch - 1)
                    assert not store.log.is_committed(next_batch)
                elif op < 0.9:
                    store.compact(spark, fanout=rng.choice([None, 2]))
                else:
                    store.vacuum()
                got = sorted(r["h"] for r in store.read(spark, "h", "h string").collect())
                want = sorted(v for vs in model.values() for v in vs)
                assert got == want, f"trial {trial} diverged"


class TestIndexIngest:
    """streaming/ingest.py::IndexIngestSink — streamed inverted index."""

    DOC_SCHEMA = "doc_id long, text string"

    def _docs(self, lo, hi):
        vocab = ["red", "fox", "jumps", "high", "blue", "slow"]
        return [
            (i, " ".join(vocab[(i + j) % len(vocab)] for j in range(5)))
            for i in range(lo, hi)
        ]

    def _write(self, spark, src, lo, hi):
        spark.createDataFrame(self._docs(lo, hi), self.DOC_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(src)

    def _run(self, spark, src, sink, cp):
        (
            spark.readStream.schema(self.DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    def test_streamed_index_equals_batch_index(self, spark, tmp_path):
        from stream_loader_spark.operators.text import inverted_postings
        from stream_loader_spark.streaming.ingest import IndexIngestSink

        src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
        sink = IndexIngestSink(str(tmp_path / "idx"), n=2)
        self._write(spark, src, 0, 30)
        self._write(spark, src, 30, 60)
        self._run(spark, src, sink, cp)

        streamed = sorted(
            tuple(r) for r in sink.postings(spark, min_df=2, max_df=40).collect()
        )
        full = spark.createDataFrame(self._docs(0, 60), self.DOC_SCHEMA)
        batch = sorted(
            tuple(r)
            for r in inverted_postings(full, n=2, min_df=2, max_df=40).collect()
        )
        assert streamed == batch and len(streamed) > 0

    def test_replay_is_idempotent(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import IndexIngestSink

        src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
        sink = IndexIngestSink(str(tmp_path / "idx"), n=2)
        self._write(spark, src, 0, 20)
        self._run(spark, src, sink, cp)
        before = sorted(
            tuple(r) for r in sink.postings(spark, 1, 100).collect()
        )
        # replay batch 0 directly (the foreachBatch crash-redelivery path)
        sink(spark.createDataFrame(self._docs(0, 20), self.DOC_SCHEMA), 0)
        after = sorted(tuple(r) for r in sink.postings(spark, 1, 100).collect())
        assert before == after

    def test_compaction_preserves_index_and_lookup_prunes(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import IndexIngestSink

        src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
        sink = IndexIngestSink(str(tmp_path / "idx"), n=1, n_buckets=8)
        self._write(spark, src, 0, 25)
        self._write(spark, src, 25, 50)
        self._write(spark, src, 50, 75)
        self._run(spark, src, sink, cp)

        before = sorted(tuple(r) for r in sink.postings(spark, 1, 100).collect())
        folded = sink.compact(spark)  # returns the rows written
        assert folded["segments"] > 0
        after = sorted(tuple(r) for r in sink.postings(spark, 1, 100).collect())
        assert before == after

        hits = sink.lookup(spark, ["red"]).collect()
        assert len(hits) > 0
        assert {r.token for r in hits} == {"red"}
        # every doc contains 'red' at most... count matches a direct scan
        direct = sum(1 for _, t in self._docs(0, 75) if "red" in t.split())
        assert len(hits) == direct
        # the pruning column survives compaction as partition dirs
        import glob

        gen_dirs = glob.glob(str(tmp_path / "idx" / "segments" / "gen=*" / "tbucket=*"))
        assert gen_dirs, "compacted generation must keep the tbucket layout"

    def test_lookup_rejects_empty_and_missing_state(self, spark, tmp_path):
        import pytest

        from stream_loader_spark.streaming.ingest import IndexIngestSink

        sink = IndexIngestSink(str(tmp_path / "idx"))
        with pytest.raises(ValueError):
            sink.lookup(spark, [])
        with pytest.raises(ValueError):
            sink.lookup(spark, ["red"])

    def test_lookup_is_one_scan_across_tiered_generations(self, spark, tmp_path):
        """The read-side pre-prune: however many tiered generations are
        live, a term lookup's physical plan carries ONE parquet scan
        over the pruned tbucket leaf dirs — not one scan per
        generation (the fan-out that made lookup latency drift with
        generation count). Results stay equal to the bulk path's."""
        from stream_loader_spark.streaming.ingest import IndexIngestSink

        sink = IndexIngestSink(str(tmp_path / "idx"), n=1, n_buckets=8)
        for i in range(4):
            sink(
                spark.createDataFrame(
                    self._docs(i * 10, i * 10 + 10), self.DOC_SCHEMA
                ),
                i,
            )
            sink.compact(spark, tiered=True)
        # tiered maintenance left multiple live generations
        import glob

        gens = glob.glob(str(tmp_path / "idx" / "segments" / "gen=*"))
        assert len(gens) == len(_gens(sink.store)) >= 2

        hits = sink.lookup(spark, ["red"])
        plan = hits._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1
        rows = sorted(tuple(r) for r in hits.collect())
        direct = sorted(
            (("red", i, t.split().count("red")))
            for i, t in self._docs(0, 40)
            if "red" in t.split()
        )
        assert rows == direct
        # a term absent from every probed bucket returns empty, not error
        assert sink.lookup(spark, ["zzznotaterm"]).count() == 0

    def test_doc_split_across_batches_merges(self, spark, tmp_path):
        """A doc_id whose rows land in MORE THAN ONE micro-batch (an
        update/re-send, or a source that chunks large docs) must merge
        into one (token, doc) posting with summed tc — not inflate df
        or emit the doc twice in the postings list. Pinned against
        inverted_postings over the concatenated corpus, before AND
        after each compaction flavor."""
        from stream_loader_spark.operators.text import inverted_postings
        from stream_loader_spark.streaming.ingest import IndexIngestSink

        sink = IndexIngestSink(str(tmp_path / "idx"), n=1, n_buckets=8)
        # doc 1 arrives in batches 0 and 1; doc 2 only in batch 0
        sink(spark.createDataFrame([(1, "red fox"), (2, "red")], self.DOC_SCHEMA), 0)
        sink(spark.createDataFrame([(1, "red high")], self.DOC_SCHEMA), 1)
        sink(spark.createDataFrame([(3, "fox high")], self.DOC_SCHEMA), 2)

        full = spark.createDataFrame(
            [(1, "red fox red high"), (2, "red"), (3, "fox high")],
            self.DOC_SCHEMA,
        )
        expected = sorted(
            tuple(r) for r in inverted_postings(full, n=1, min_df=1, max_df=10).collect()
        )

        def got():
            return sorted(
                tuple(r) for r in sink.postings(spark, min_df=1, max_df=10).collect()
            )

        assert got() == expected
        # lookup merges too: doc 1 said 'red' twice across two segments
        red = {r["doc_id"]: r["tc"] for r in sink.lookup(spark, ["red"]).collect()}
        assert red == {1: 2, 2: 1}
        sink.compact(spark, tiered=True)
        assert got() == expected
        sink.compact(spark)  # full refold over the tiered layout
        assert got() == expected

    def test_tiered_compaction_bounds_generations(self, spark, tmp_path):
        """Tiered compaction must (a) never re-read prior generations
        when folding new batches, (b) cap the live generation count at
        the fanout, and (c) preserve reads exactly — while the full
        refold touches O(index) every call."""
        import glob

        from stream_loader_spark.streaming.ingest import IndexIngestSink

        sink = IndexIngestSink(str(tmp_path / "idx"), n=1, n_buckets=4)
        fanout = 3
        for b in range(14):
            sink(
                spark.createDataFrame(
                    self._docs(b * 10, b * 10 + 10), self.DOC_SCHEMA
                ),
                b,
            )
            if b % 2 == 1:  # maintenance cadence: every 2 batches
                sink.compact(spark, tiered=True)
        # after interleaved tiered compactions the generation list is
        # bounded and reads equal the never-compacted truth
        assert len(_gens(sink.store)) <= 8  # the tiered fanout
        got = sorted(tuple(r) for r in sink.postings(spark, 1, 1000).collect())

        truth_sink = IndexIngestSink(str(tmp_path / "idx2"), n=1, n_buckets=4)
        for b in range(14):
            truth_sink(
                spark.createDataFrame(
                    self._docs(b * 10, b * 10 + 10), self.DOC_SCHEMA
                ),
                b,
            )
        want = sorted(tuple(r) for r in truth_sink.postings(spark, 1, 1000).collect())
        assert got == want and len(got) > 0

        # explicit small fanout: repeated tier merges keep gens <= fanout
        sink.store.compact(spark, sink._merge_segments, fanout=fanout)
        assert len(_gens(sink.store)) <= fanout
        assert sorted(
            tuple(r) for r in sink.postings(spark, 1, 1000).collect()
        ) == want
        # the tbucket layout survives tier merges (pruned lookups)
        assert glob.glob(
            str(tmp_path / "idx" / "segments" / "gen=*" / "tbucket=*")
        )
