"""Long randomized kill/compaction soaks (round-9 scale-up of the
test_exactly_once_soak.py schedules).

The short soaks prove crash phases compose over ~10 batches; these
prove the state machines hold over a LONG run — 100+ micro-batches for
the manifest sink, a large randomized stream for the near-dup ingest
sink — with kills at random phases AND compaction/vacuum interleaved
mid-stream (the reference's restart suite shape,
fixtures/KafkaRestartBehaviors.scala:33-93, plus maintenance). Checked
throughout, not just at the end:

* recovered positions are MONOTONE after every batch (a recovery that
  ever goes backwards would re-consume),
* compaction/vacuum never changes recovered positions or committed
  data,
* final committed state is multiset-equal to the crash-free expectation.

Runtime is bounded by tiny per-batch row counts; the batch COUNT is
what's being scaled.
"""

from __future__ import annotations

import random
from datetime import datetime, timezone

import pytest

pytestmark = pytest.mark.slow

from stream_loader_spark.sinks.manifest import ManifestFileSink

TS = datetime(2024, 1, 1, tzinfo=timezone.utc)
SCHEMA = "topic string, partition int, offset bigint, ts timestamp"
DOC_SCHEMA = "doc_id long, text string"


class TestManifestSinkLongSoak:
    N_BATCHES = 120
    ROWS_PER_PART = 5  # x2 partitions = 10 rows/batch
    COMPACT_EVERY = 20

    def _batch(self, spark, b):
        rows = [
            ("t", p, b * self.ROWS_PER_PART + j, TS)
            for p in (0, 1)
            for j in range(self.ROWS_PER_PART)
        ]
        return spark.createDataFrame(rows, SCHEMA)

    def test_120_batches_with_kills_and_interleaved_compaction(self, spark, tmp_path):
        rng = random.Random(0x91C4)
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

        phases = [crash_pre_data, crash_mid_commit]
        kills = 0
        compactions = 0
        prev_pos: dict = {}
        for b in range(self.N_BATCHES):
            batch = self._batch(spark, b)
            # ~15% of batches absorb one random-phase kill + replay
            if rng.random() < 0.15:
                restore = rng.choice(phases)(sink)
                with pytest.raises(RuntimeError, match="killed"):
                    sink.write_batch(batch, b)
                restore()
                kills += 1
            sink.write_batch(batch, b)

            # positions must be monotone after EVERY commit
            pos = sink.committed_positions()
            for key, p in prev_pos.items():
                assert pos[key].offset >= p.offset, f"position went back at {b}"
            prev_pos = pos

            # interleaved maintenance mid-stream, including right after
            # a kill-replay: compaction + vacuum must never move
            # positions or lose data
            if (b + 1) % self.COMPACT_EVERY == 0:
                before = sink.committed_positions()
                sink.compact_data(spark, min_batches=1)
                sink.vacuum()
                compactions += 1
                assert sink.committed_positions() == before

        assert kills >= 10  # the schedule actually exercised crashes
        assert compactions == self.N_BATCHES // self.COMPACT_EVERY
        expected = self.N_BATCHES * 2 * self.ROWS_PER_PART
        keys = sink.committed_data(spark).select("topic", "partition", "offset")
        assert keys.count() == expected  # no loss
        assert keys.distinct().count() == expected  # no dups
        top = self.N_BATCHES * self.ROWS_PER_PART
        assert prev_pos[("t", 0)].offset == top
        assert prev_pos[("t", 1)].offset == top
        # vacuum bounded the on-disk manifest count: the tail since the
        # last compaction, plus compaction records — not 120 files
        import os

        live = [
            f
            for f in os.listdir(os.path.join(str(tmp_path / "out"), "_manifest"))
            if f.endswith(".json")
        ]
        assert len(live) < self.N_BATCHES // 2


class TestNearDupIngestLongSoak:
    """Large randomized stream through NearDupIngestSink with kills at
    every internal write phase and interleaved index compaction.

    Duplicate relations are EXACT-text copies: banding finds identical
    texts with certainty (all bands match), so the expected surviving
    set is computable driver-side — min doc_id per distinct text — and
    the soak checks the full state machine (history reads, replay
    idempotence, compaction generations) against it exactly. Near-miss
    pair QUALITY is covered by the operator tests; this soak is about
    state composition over a long run."""

    N_BATCHES = 48
    DOCS_PER_BATCH = 3
    COMPACT_EVERY = 12

    def _stream(self, rng):
        """Deterministic (batch, docs) stream + expected survivors."""
        bases = [
            " ".join(f"b{i}w{j}" for j in range(12)) for i in range(20)
        ]
        batches = []
        expected: dict[str, int] = {}  # text -> min doc_id (the keeper)
        did = 0
        for _b in range(self.N_BATCHES):
            docs = []
            for _ in range(self.DOCS_PER_BATCH):
                did += 1
                if rng.random() < 0.5:
                    text = rng.choice(bases)
                else:
                    text = " ".join(f"n{did}w{j}" for j in range(10))
                docs.append((did, text))
                if text not in expected:
                    expected[text] = did
            batches.append(docs)
        return batches, sorted(expected.values())

    def test_long_stream_with_kills_and_compaction(self, spark, tmp_path):
        from stream_loader_spark.streaming.ingest import NearDupIngestSink

        rng = random.Random(0xD00D)
        sink = NearDupIngestSink(str(tmp_path / "out"))
        batches, expected_ids = self._stream(rng)

        def kill_band_write(s):
            real = s.store._write

            def boom(df, path):
                if path.startswith(s.store.parts["bands"]):
                    raise RuntimeError("killed before band write")
                return real(df, path)

            s.store._write = boom
            return lambda: setattr(s.store, "_write", real)

        def kill_record(s):
            real = s.store.commit

            def boom(batch_id, rows):
                raise RuntimeError("killed before commit record")

            s.store.commit = boom
            return lambda: setattr(s.store, "commit", real)

        kills = 0
        for b, docs in enumerate(batches):
            batch = spark.createDataFrame(docs, DOC_SCHEMA)
            # ~20% of batches crash mid-write (corpus written, bands
            # not) or before the record, then replay — restart semantics
            if rng.random() < 0.2:
                restore = rng.choice([kill_band_write, kill_record])(sink)
                with pytest.raises(RuntimeError, match="killed"):
                    sink(batch, b)
                restore()
                kills += 1
            sink(batch, b)
            if rng.random() < 0.1:
                sink(batch, b)  # replay of a committed batch
            if (b + 1) % self.COMPACT_EVERY == 0:
                sink.compact(spark)
                sink.vacuum()

        assert kills >= 5
        kept = sorted(
            r["doc_id"] for r in sink.committed_corpus(spark).collect()
        )
        assert kept == expected_ids


class TestIndexIngestLongSoak:
    """Long randomized stream through IndexIngestSink with kills before
    the segment write or before its commit record, replays of committed
    batches, and interleaved segment merges and vacuums — the committed
    index must equal the batch-mode inverted index over the crash-free
    corpus at every checkpoint."""

    N_BATCHES = 48
    DOCS_PER_BATCH = 3
    COMPACT_EVERY = 12

    def _stream(self, rng):
        vocab = [f"v{i}" for i in range(9)]
        batches, corpus = [], []
        did = 0
        for _b in range(self.N_BATCHES):
            docs = []
            for _ in range(self.DOCS_PER_BATCH):
                did += 1
                text = " ".join(rng.choice(vocab) for _ in range(7))
                docs.append((did, text))
            batches.append(docs)
            corpus.extend(docs)
        return batches, corpus

    def test_long_stream_with_kills_and_merges(self, spark, tmp_path):
        from stream_loader_spark.operators.text import inverted_postings
        from stream_loader_spark.streaming.ingest import IndexIngestSink

        rng = random.Random(0x1D5)
        sink = IndexIngestSink(str(tmp_path / "idx"), n=2, n_buckets=8)
        batches, corpus = self._stream(rng)

        def kill_segment_write(s):
            real = s.store.write

            def boom(batch_id, frames):
                raise RuntimeError("killed before segment write")

            s.store.write = boom
            return lambda: setattr(s.store, "write", real)

        def kill_record(s):
            real = s.store.commit

            def boom(batch_id, rows):
                raise RuntimeError("killed before commit record")

            s.store.commit = boom
            return lambda: setattr(s.store, "commit", real)

        def check(upto):
            streamed = sorted(
                tuple(r) for r in sink.postings(spark, 1, 10**6).collect()
            )
            seen = [d for b in batches[: upto + 1] for d in b]
            batch_form = sorted(
                tuple(r)
                for r in inverted_postings(
                    spark.createDataFrame(seen, DOC_SCHEMA),
                    n=2, min_df=1, max_df=10**6,
                ).collect()
            )
            assert streamed == batch_form

        kills = 0
        for b, docs in enumerate(batches):
            batch = spark.createDataFrame(docs, DOC_SCHEMA)
            if rng.random() < 0.2:
                restore = rng.choice([kill_segment_write, kill_record])(sink)
                with pytest.raises(RuntimeError, match="killed"):
                    sink(batch, b)
                restore()
                kills += 1
            sink(batch, b)
            if rng.random() < 0.1:
                sink(batch, b)  # replay of a committed batch
            if (b + 1) % self.COMPACT_EVERY == 0:
                sink.compact(spark)
                sink.vacuum()
                check(b)
        assert kills >= 5
        check(self.N_BATCHES - 1)
