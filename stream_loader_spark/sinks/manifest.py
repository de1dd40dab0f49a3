"""Manifest-committed file sink: exactly-once parquet/CSV output.

The reference achieves exactly-once file loading with a two-phase
commit against Kafka offset metadata (TwoPhaseCommitBatchStorage.scala:
41-147, S3FileStorage.scala, HadoopFileStorage.scala). On Spark the
checkpoint already serializes batch ids, so the same guarantee needs
only two tricks, both from the reference's own design:

1. **Deterministic batch directories** (the D3 file-naming trick at
   directory granularity, TimePartitioningFilePathFormatter.scala:39-47):
   batch ``n`` always writes ``data/batch=n/``, overwrite mode — a
   replayed or half-written batch is simply overwritten.
2. **Atomic manifest commit** (the "commit is one atomic mutation"
   principle of IcebergRecordBatchStorage.scala:47-64): after the data
   lands, one manifest record for the batch is written via
   temp-file + atomic rename. Readers and recovery trust ONLY the
   manifest; data files without a manifest entry are invisible
   (equivalent to an uncommitted 2PC staging).

A commit with stream ranges is two Spark jobs over the persisted
batch. The first computes the batch (and so runs any stateful operator
upstream) and reduces its per-(topic, partition) ranges in one task.
The second writes the cached rows with one task per
``ROWS_PER_WRITE_TASK`` rows, at most one per batch partition, so a
micro-batch of up to that many rows lands as ONE file per output
partition (per date under ``partition_by``) in ``data/batch=n/`` — the
reference's one-file-per-partition-per-batch ``RecordBatcher``/
``FileBuilder`` shape. Larger batches get one file per write task per
output partition. Each file holds its rows ordered by (topic,
partition, offset), sorted inside the write task.

Crash matrix: die before data write → replay rewrites; die after data,
before manifest → replay overwrites the same dir and then commits; die
after manifest → replay sees the manifest and skips. No distributed
coordination, no Kafka metadata.

``CommitLog`` is the one record format behind this sink, the upsert
sink (and the materialized-view sinks through it) and the
batch-directory tables of the offsets and ingest sinks
(sinks/table.py): one ``batch-<id>.json`` record per committed batch,
``compaction-<id>.json`` records that supersede what they fold, one
replay check and one vacuum.

Maintenance is ``compact_data`` (fold the live batch dirs into one dir
under one compaction record, written like one batch of their rows: one
file per date per ``ROWS_PER_WRITE_TASK`` rows, in stream order)
followed by ``vacuum`` (delete what that record superseded), so the
dirs and files a reader lists and opens stay bounded by the batches
since the last compaction.

Commit metrics (the reference's sinker metrics,
RecordBatchingSinker.scala:175-208) live in the sink's
``MetricsRegistry`` (``self.metrics``): ``sink.commits``,
``sink.commit-ms-last``, ``sink.commit-ms-total`` and the
per-(topic, partition) ``sink.records-written.by.partition.topic``,
recorded from the batch's already-collected ranges. A replayed batch
records nothing.
"""

from __future__ import annotations

import json
import math
import os
import tempfile
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from stream_loader_spark.model.position import StreamPosition
from stream_loader_spark.model.range import StreamRange
from stream_loader_spark.model.idempotence import dedup_token
# NOT recovery.stream_ranges: ``batch_ranges`` (its one-task reduce) is
# bound under that name because perfbench's traced run patches
# ``manifest.stream_ranges`` to time a commit's ranges collect
from stream_loader_spark.operators.recovery import (
    batch_ranges as stream_ranges,
    end_watermark_ms,
)
from stream_loader_spark.streaming.metrics import MetricsRegistry

# rows one write task takes from a cached micro-batch: below it a
# task's fixed cost (deserializing its Hadoop configuration, opening a
# parquet writer per date) outweighs its rows. Measured on one-trigger
# drains of ingest_append traffic (4 cores, 4 batch partitions, 10
# alternating pairs per size): one write task committed as fast as one
# per partition up to 14,000 rows and slower from 20,000, and used less
# CPU at every size. Batches of a few times this are written one task
# per partition.
ROWS_PER_WRITE_TASK = 15_000


def atomic_write_json(dir_path: str, record: dict, final_name: str) -> None:
    """Durable atomic JSON publish: fsync the temp file, rename, fsync
    the directory so the rename itself survives power loss. The ONE
    commit primitive for every manifest in the repo (``CommitLog`` and
    the ingest sinks' scheme and growth files) — copies drift, this
    doesn't."""
    os.makedirs(dir_path, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=dir_path, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(record, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(dir_path, final_name))
        dir_fd = os.open(dir_path, os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


class CommitLog:
    """Append-only commit records in one directory: the durable commit
    primitive of the manifest and upsert sinks and of the batch-directory
    tables (sinks/table.py) behind the offsets and ingest sinks.

    A batch commits by publishing ``batch-<id>.json`` (``append``); the
    record's presence IS the commit, and its content is the sink's. A
    compaction record (``compact``) folds every record live at its
    time and supersedes them: non-negative batch ids up to its
    ``replaces_upto`` watermark (stream batch ids are monotone, so one
    integer proves every earlier batch committed) and the reserved
    negative backfill ids it lists in ``replaces_neg``. The live records
    are the newest compaction plus the records no compaction folded;
    ``vacuum`` deletes the rest. Every publish goes through
    ``atomic_write_json``."""

    # "no compaction yet" sentinel: far below any real batch id,
    # INCLUDING the reserved negative pre-stream backfill ids (-1)
    _NO_UPTO = -(1 << 62)

    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(path, exist_ok=True)

    def record_path(self, batch_id: int) -> str:
        return os.path.join(self.path, f"batch-{batch_id:020d}.json")

    def names(self) -> list[str]:
        """The record names on disk, sorted: one listing, no record
        opened. A record is never rewritten under its name, so an
        unchanged listing means unchanged records."""
        return sorted(n for n in os.listdir(self.path) if n.endswith(".json"))

    def append(self, batch_id: int, record: dict) -> None:
        atomic_write_json(self.path, record, os.path.basename(self.record_path(batch_id)))

    def compact(self, record: dict) -> None:
        atomic_write_json(self.path, record, f"compaction-{record['batch_id']:020d}.json")

    def is_committed(self, batch_id: int) -> bool:
        if os.path.exists(self.record_path(batch_id)):
            return True
        upto, neg = self.watermark()
        if batch_id < 0:
            # reserved pre-stream backfill ids sit BELOW the monotone
            # stream id space, so the watermark proves nothing about
            # them: a backfill written AFTER a compaction exists must
            # not be swallowed as "already committed". Only an explicit
            # per-id fold record marks a vacuumed backfill committed.
            return batch_id in neg
        # a vacuumed-away original is still committed: the compaction
        # record's supersession watermark covers it, so replays after
        # vacuum stay no-ops
        return batch_id <= upto

    @staticmethod
    def is_compaction(rec: dict) -> bool:
        return "replaces_upto" in rec

    def _read(self, name: str) -> dict:
        """One record. A compaction record without ``replaces_upto``
        enumerates what it folds, a format this log no longer reads."""
        with open(os.path.join(self.path, name)) as f:
            rec = json.load(f)
        if name.startswith("compaction-") and not self.is_compaction(rec):
            raise ValueError(
                f"compaction record {name} in {self.path!r} has no replaces_upto: "
                "it predates supersession watermarks; rebuild the table"
            )
        return rec

    @classmethod
    def _supersedes(cls, compactions) -> tuple[int, set[int]]:
        """(watermark over non-negative ids, folded negative-id set) of
        the compaction records. Reserved negative backfill ids are
        outside the monotone space and never raise the watermark; a
        record lists them in ``replaces_neg`` (bounded: backfills are
        rare one-shot loads)."""
        upto = cls._NO_UPTO
        neg: set[int] = set()
        for rec in compactions:
            upto = max(upto, rec["replaces_upto"])
            neg |= set(rec["replaces_neg"])
        return upto, neg

    def watermark(self) -> tuple[int, set[int]]:
        """``_supersedes`` of the log: reading only compaction records
        keeps the per-batch committed check O(#compactions), not
        O(#batches)."""
        return self._supersedes(
            self._read(name)
            for name in os.listdir(self.path)
            if name.startswith("compaction-") and name.endswith(".json")
        )

    def supersession(self, folded_ids: list[int]) -> dict:
        """The watermark fields of a compaction record that folds the
        batches ``folded_ids``: carried forward from earlier compactions,
        because vacuum deletes superseded compaction records."""
        upto, neg = self.watermark()
        return {
            "replaces_upto": max([upto, *(i for i in folded_ids if i >= 0)]),
            "replaces_neg": sorted(neg | {i for i in folded_ids if i < 0}),
        }

    def _resolve(self) -> list[tuple[str, dict, bool]]:
        """Every record as (path, record, superseded), in name order."""
        named = [(os.path.join(self.path, name), self._read(name)) for name in self.names()]
        compactions = [rec for _, rec in named if self.is_compaction(rec)]
        if not compactions:
            return [(path, rec, False) for path, rec in named]
        newest = max(r["batch_id"] for r in compactions)
        upto, neg = self._supersedes(compactions)

        def superseded(rec: dict) -> bool:
            if self.is_compaction(rec):
                return rec["batch_id"] < newest
            # negative (backfill) ids are live unless explicitly folded —
            # the watermark only covers the monotone non-negative space
            b = rec["batch_id"]
            return b <= upto if b >= 0 else b in neg

        return [(path, rec, superseded(rec)) for path, rec in named]

    def records(self) -> list[dict]:
        """Every record on disk, superseded ones included."""
        return [rec for _, rec, _ in self._resolve()]

    def live(self) -> list[dict]:
        """The newest compaction record (if any) and the records above
        its watermark, by batch id. Superseded records may or may not
        be vacuumed yet."""
        return sorted(
            (rec for _, rec, gone in self._resolve() if not gone),
            key=lambda r: (r["batch_id"], not self.is_compaction(r)),
        )

    def vacuum(self, drop=None) -> None:
        """Delete the records a compaction superseded (safe any time
        after the compaction record exists). ``drop(record)`` runs
        before each record is deleted, so the data it names goes first
        and a crash never leaves unreferenced data behind."""
        for path, rec, gone in self._resolve():
            if gone:
                if drop is not None:
                    drop(rec)
                os.unlink(path)


def consume_replayed_batch(batch_df: DataFrame) -> None:
    """Execute a replayed batch's plan without writing it anywhere.

    A sink that already committed the batch has nothing to write, but
    stateful operators upstream of it (e.g. watermark dedup) commit
    their state stores only when the batch's plan runs: a sink that
    returns without running it fails the restart with
    STATE_STORE_COMMIT_VALIDATION_FAILED."""
    batch_df.write.format("noop").mode("overwrite").save()


@dataclass(frozen=True)
class CommittedBatch:
    batch_id: int
    ranges: list[StreamRange]
    token: str
    data_dir: str


class ManifestFileSink:
    """Exactly-once file sink; use as the ``foreachBatch`` callable.

    ``meta_cols`` names the (topic, partition, offset, ts) columns used
    to compute the batch's stream ranges; pass ``None`` to skip range
    tracking (manifest then records only the batch id).
    """

    def __init__(
        self,
        out_dir: str,
        file_format: str = "parquet",
        partition_by: str | None = None,
        meta_cols: tuple[str, str, str, str] | None = ("topic", "partition", "offset", "ts"),
        writer_options: dict[str, str] | None = None,
        compaction_keep_ranges: int = 8,
    ) -> None:
        self.out_dir = out_dir
        self.file_format = file_format
        self.partition_by = partition_by
        self.meta_cols = meta_cols
        self.writer_options = writer_options or {}
        self.compaction_keep_ranges = compaction_keep_ranges
        self.metrics = MetricsRegistry()
        self.log = CommitLog(os.path.join(out_dir, "_manifest"))

    def batch_data_dir(self, batch_id: int) -> str:
        return os.path.join(self.out_dir, "data", f"batch={batch_id}")

    # -- RecordBatchStorage contract ------------------------------------
    def is_batch_committed(self, batch_id: int) -> bool:
        return self.log.is_committed(batch_id)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.write_batch(batch_df, batch_id)

    def _build_writer(self, df: DataFrame):
        writer = df.write.mode("overwrite").format(self.file_format)
        for k, v in self.writer_options.items():
            writer = writer.option(k, v)
        if self.partition_by:
            writer = writer.partitionBy(self.partition_by)
        return writer

    def _save(self, df: DataFrame, rows: int | None, target: str) -> None:
        """Write ``df`` to ``target``. Given its row count, in one task
        per ``ROWS_PER_WRITE_TASK`` rows (coalesce never raises the
        partition count), each sorting its rows by (partition_by, topic,
        partition, offset): the partitioned writer needs them grouped by
        date anyway, so this is its one sort, and rows in stream order
        make each file's columns compress better."""
        if rows is not None:
            tasks = max(1, math.ceil(rows / ROWS_PER_WRITE_TASK))
            order = [c for c in (self.partition_by, *self.meta_cols[:3]) if c]
            df = df.coalesce(tasks).sortWithinPartitions(*order)
        self._build_writer(df).save(target)

    @staticmethod
    def _range_dicts(ranges: list[StreamRange]) -> list[dict]:
        return [
            {
                "topic": r.topic,
                "partition": r.partition,
                "start_offset": r.start.offset,
                "end_offset": r.end.offset,
                "end_watermark_ms": r.end.watermark_ms,
            }
            for r in ranges
        ]

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_batch_committed(batch_id):
            # replayed micro-batch after restart: commit already atomic+durable
            consume_replayed_batch(batch_df)
            return
        commit_started = time.monotonic()
        ranges: list[StreamRange] = []
        counts: list[int] = []  # records written per range
        if self.meta_cols is None:
            self._build_writer(batch_df).save(self.batch_data_dir(batch_id))
        else:
            cached = batch_df.persist()
            try:
                # the first action on the batch: it runs the upstream
                # plan (stateful operators included) and fills the cache
                for row in stream_ranges(cached, *self.meta_cols).collect():
                    ranges.append(
                        StreamRange(
                            row["topic"],
                            row["partition"],
                            StreamPosition(row["start_offset"], 0),
                            StreamPosition(row["end_offset"], end_watermark_ms(row)),
                        )
                    )
                    counts.append(row["record_count"])
                self._save(cached, sum(counts), self.batch_data_dir(batch_id))
            finally:
                # a failed write must not leak the cached batch across retries
                cached.unpersist()
        self._commit_manifest(batch_id, ranges)
        commit_ms = int((time.monotonic() - commit_started) * 1000)
        self.metrics.inc("sink.commits")
        self.metrics.set_gauge("sink.commit-ms-last", commit_ms)
        self.metrics.inc("sink.commit-ms-total", commit_ms)
        for r, n in zip(ranges, counts):
            tags = {"topic": r.topic, "partition": str(r.partition)}
            self.metrics.inc("sink.records-written.by.partition.topic", n, tags)

    def _commit_manifest(self, batch_id: int, ranges: list[StreamRange]) -> None:
        self.log.append(
            batch_id,
            {
                "batch_id": batch_id,
                "token": dedup_token(ranges),
                "data_dir": self.batch_data_dir(batch_id),
                "ranges": self._range_dicts(ranges),
            },
        )

    # -- readback -------------------------------------------------------
    @staticmethod
    def _ranges_of(rec: dict) -> list[StreamRange]:
        return [
            StreamRange(
                r["topic"],
                r["partition"],
                StreamPosition(r["start_offset"], 0),
                StreamPosition(r["end_offset"], r["end_watermark_ms"]),
            )
            for r in rec["ranges"]
        ]

    @classmethod
    def _committed(cls, rec: dict) -> CommittedBatch:
        return CommittedBatch(
            rec["batch_id"], cls._ranges_of(rec), rec["token"], rec["data_dir"]
        )

    def committed_batches(self) -> list[CommittedBatch]:
        """Live batches after compaction resolution (``CommitLog.live``):
        the newest compaction record (if any) + original records
        appended after it. Replaced records/data may or may not be
        vacuumed yet."""
        return [self._committed(rec) for rec in self.log.live()]

    def committed_positions(self) -> dict[tuple[str, int], StreamPosition]:
        """Next position per (topic, partition) — the A1-shape readback
        that lets a Kafka-free restart seek correctly."""
        positions: dict[tuple[str, int], StreamPosition] = {}
        for batch in self.committed_batches():
            for r in batch.ranges:
                key = (r.topic, r.partition)
                nxt = StreamPosition(r.end.offset + 1, r.end.watermark_ms)
                if key not in positions or positions[key] < nxt:
                    positions[key] = nxt
        return positions

    def committed_data(self, spark: SparkSession) -> DataFrame:
        """All committed rows — reads ONLY manifest-listed data dirs.

        Parquet batches merge schemas across batches, so a pipeline that
        adds columns over time stays readable (older rows surface NULLs
        for the new columns)."""
        dirs = [b.data_dir for b in self.committed_batches() if os.path.exists(b.data_dir)]
        if not dirs:
            raise ValueError("no committed batches")
        return self._load_dirs(spark, dirs)

    def _load_dirs(self, spark: SparkSession, dirs: list[str]) -> DataFrame:
        """Union of per-dir loads. Each dir is read as its OWN root:
        a single multi-root load breaks under ``partition_by`` —
        Spark's partition discovery sees the batch=N/compact=N dir
        names themselves as (conflicting) partition columns
        (CONFLICTING_DIRECTORY_STRUCTURES). Per-root loads keep the
        in-dir date partitions inferred, ``allowMissingColumns``
        carries schema evolution across batches, and empty batch dirs
        (a committed batch whose write produced no files) are skipped
        instead of failing schema inference. Plan size is O(#live
        dirs) — bounded by ``compact_data``."""
        dfs = [
            self._build_reader(spark).load(d)
            for d in dirs
            if any(
                not f.startswith(("_", "."))
                for _root, _sub, files in os.walk(d)
                for f in files
            )
        ]
        if not dfs:
            raise ValueError("no committed data files")
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        return out

    def _build_reader(self, spark: SparkSession):
        """Reader mirroring the writer's options: mergeSchema for parquet
        (schema evolution across batches) and the configured format
        options (e.g. CSV header/sep) so round-trips are lossless."""
        reader = spark.read.format(self.file_format)
        for k, v in self.writer_options.items():
            reader = reader.option(k, v)
        if self.file_format == "parquet":
            reader = reader.option("mergeSchema", "true")
        return reader

    def compact_data(self, spark: SparkSession, min_batches: int = 2) -> str | None:
        """Rewrite all live batch dirs into ONE consolidated dir (the
        small-files maintenance op a streaming file sink needs at scale).

        Crash-safe by the same rules as writes: the consolidated dir is
        deterministic (`compact=<max live id>`, overwrite mode) and the
        single compaction manifest record — which carries the
        supersession watermark ``replaces_upto`` and the folded ranges —
        is the atomic commit point. Die before the record: originals
        stay live, rerun overwrites. Die after: readers resolve to the
        compacted dir; ``vacuum()`` later removes superseded
        dirs/records at leisure.

        The record is BOUNDED for 100k-batch lifetimes, by construction:
        ``replaces_upto`` is one integer (monotone batch ids make a
        watermark equivalent to listing every folded id, a list that
        would grow one id per batch forever), and the folded ranges
        pass through ``summarize_ranges`` (``keep_ranges`` exact tails
        per partition + one historic envelope — sparse per-partition
        offsets make the consecutive-only merge legitimately unable to
        collapse them, measured growing 29 ranges/batch on the events
        fixture).
        """
        records = self.log.live()
        if len(records) < min_batches:
            return None
        live = [self._committed(r) for r in records]
        # existing compaction record ids: the new record's id must be
        # strictly above them — when the only NEW live batch is a
        # backfill, max(live id) equals the live compaction's own id
        # and reusing it would make the consolidated write OVERWRITE
        # the very dir it is reading (and collide record names)
        prior_comp_ids = {
            r["batch_id"] for r in self.log.records() if CommitLog.is_compaction(r)
        }
        max_id = max([b.batch_id for b in live] + [i + 1 for i in prior_comp_ids])
        target = os.path.join(self.out_dir, "data", f"compact={max_id}")
        # same reader as committed_data: without mergeSchema, compacting
        # batches with evolved schemas would silently drop later-added
        # columns — irreversibly once vacuum() deletes the originals
        df = self._load_dirs(
            spark, [b.data_dir for b in live if os.path.exists(b.data_dir)]
        )
        # the offsets the ranges span bound the rows from above (offsets
        # dropped upstream leave gaps): the fold may take more write
        # tasks than its rows need, never fewer
        rows = None
        if self.meta_cols is not None:
            rows = sum(r.end.offset - r.start.offset + 1 for b in live for r in b.ranges)
        self._save(df, rows, target)

        from stream_loader_spark.model.range import merge_ranges, summarize_ranges

        merged = summarize_ranges(
            merge_ranges([r for b in live for r in b.ranges]),
            keep_exact=self.compaction_keep_ranges,
        )
        record = {
            "batch_id": max_id,
            "token": dedup_token(merged),
            "data_dir": target,
            # the watermark folds ORIGINAL records only, identified by
            # each record's own compaction marker, not by id: a
            # compaction id can collide with a later real stream batch
            # id (batches 0-2 → compaction 2; a backfill-only compaction
            # then takes id 3; the stream's next batch is ALSO 3), and
            # excluding by id would pin the watermark below that batch
            # forever (permanent double-read, unreclaimable by vacuum)
            **self.log.supersession(
                [r["batch_id"] for r in records if not CommitLog.is_compaction(r)]
            ),
            "ranges": self._range_dicts(merged),
        }
        self.log.compact(record)
        return target

    def vacuum(self) -> list[str]:
        """Delete data dirs and records superseded by a compaction (safe
        any time after the compaction record exists).

        Works record-by-record using each record's own ``data_dir``, so
        superseded COMPACTION outputs (``data/compact=N``) are reclaimed
        the same way as original batch dirs.
        """
        import shutil

        removed = []

        def drop(rec: dict) -> None:
            data = rec.get("data_dir")
            if data and os.path.exists(data):
                shutil.rmtree(data)
                removed.append(data)

        self.log.vacuum(drop)
        return removed
