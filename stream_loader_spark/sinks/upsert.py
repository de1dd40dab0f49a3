"""Exactly-once key-value upsert sink (CDC / SCD-type-1 merge).

The reference's storages append batches; warehouse loaders frequently
need the MERGE form instead — each record carries a key and the sink
keeps only the latest row per key. This sink provides that on plain
parquet with the repo's commit log (``CommitLog`` and the crash matrix
in sinks/manifest.py), structured so a batch rewrites only the state it
touches:

- State is hash-bucketed by key. A batch merges ONLY the buckets its
  keys hash into and rewrites each into
  ``versions/v=<batch_id>/_bucket=<b>/``. Untouched buckets keep their
  old version — at 100 TB a batch touching 1% of the key space
  rewrites 1% of the snapshot, not all of it (the pruning Delta/Hudi
  get from file stats; here it is deterministic by layout).
- A commit scans the batch once: the rows are persisted with their
  bucket, and the no-op write that fills the cache observes the set of
  touched buckets. The touched buckets' stored rows and the batch rows
  then meet in ONE exchange on the bucket and one aggregate per key, so
  each bucket lands whole in one shuffle partition and a commit writes
  one parquet file per touched bucket (the reference's
  one-file-per-partition-per-batch ``RecordBatcher`` shape), with
  adaptive query execution on or off. The codec is the session's
  (zstd, see session.py).
- A commit appends one small record to the log under ``_manifest/``
  (``atomic_write_json``: fsynced temp file, rename, fsynced
  directory) holding only what changed: the buckets it rewrote, whose
  version is now the batch id. The first record pins the layout
  (``config``); a record carries the stored schema (``schema``) when
  the batch widened it. The pin is the running union of every batch's
  columns, so stored rows are read without inferring it: a batch may
  add columns (older rows read back NULL) or omit them (carried rows
  keep their values).
- The bucket → version map as of any retained batch is the fold of the
  newest compaction record (written by ``vacuum``: the full map, config
  and schema) and the records after it. A commit keeps the fold its
  sink's last commit left and reopens no record while the log's listing
  is unchanged, so the records it opens do not grow with the records
  since the last ``vacuum`` (the listing it compares still does).
  Readers union exactly the directories the log names;
  a crash between data and record leaves invisible files that the
  deterministic replay overwrites. Data files are NEVER renamed —
  object-store safe, same as the manifest file sink.
- Replays write nothing: the batch's record exists (or a compaction's
  watermark covers it). The replayed batch's plan still runs into a
  no-op sink so stateful operators upstream commit their state
  (``consume_replayed_batch``).

The newest row per key wins. A batch row beats the stored row whatever
its ``order_col`` value; inside one batch the greatest ``order_col``
wins and a non-NULL value beats NULL (rows that tie on it resolve
arbitrarily). The tombstone marker rides through the same ``max_by``,
so delete-then-reinsert in one batch resolves by ``order_col`` too,
and NULL keys group like any other value. ``order_col`` must not be a
key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from stream_loader_spark.sinks.manifest import CommitLog, consume_replayed_batch

# merge-only columns: a batch row's tombstone flag and its priority
# over stored rows; neither is ever stored
_TOMB = "_upsert_tomb"
_PRIO = "_upsert_prio"


def null_safe_join(
    left: DataFrame, right: DataFrame, keys: list[str], how: str
) -> DataFrame:
    """Key-equality join where NULL == NULL matches.

    Name-list joins compile to null-unsafe ``=``: a NULL-keyed state
    row then never matches its NULL-keyed update, so anti-joins keep
    the stale row and semi-joins drop the prior state — both silently
    duplicate per-key state. NULL keys are legitimate here (they are
    whatever the upstream groupBy produced), so every key join in the
    upsert/matview family routes through this. The right side's key
    columns are renamed before the join and dropped from the result,
    preserving the name-list join's output shape."""
    renamed = right.select(
        *[F.col(c).alias(f"_nsj_{c}") for c in keys],
        *[c for c in right.columns if c not in keys],
    )
    cond = F.lit(True)
    for c in keys:
        cond = cond & left[c].eqNullSafe(renamed[f"_nsj_{c}"])
    out = left.join(renamed, cond, how)
    if how in ("left_semi", "semi", "left_anti", "anti"):
        return out  # semi/anti results carry only the left side
    return out.drop(*[f"_nsj_{c}" for c in keys])


class UpsertSink:
    def __init__(
        self,
        path: str,
        key_cols: list[str],
        order_col: str,
        num_buckets: int = 16,
        tombstone_col: str | None = None,
    ) -> None:
        if not key_cols:
            raise ValueError("key_cols must be non-empty")
        self.path = path
        self.key_cols = list(key_cols)
        if order_col in self.key_cols:
            raise ValueError("order_col must not be a key column")
        self.order_col = order_col
        self.num_buckets = num_buckets
        # CDC deletes: a batch row with this boolean column TRUE removes
        # its key from state. The marker participates in within-batch
        # ordering (delete-then-reinsert resolves by order_col) and is
        # never stored — state holds live rows only. Not pinned in the
        # log's config: it names a batch column, not a layout choice.
        if tombstone_col in self.key_cols or tombstone_col == order_col:
            raise ValueError("tombstone_col must not be a key or order column")
        self.tombstone_col = tombstone_col
        self.log = CommitLog(os.path.join(path, "_manifest"))
        # (log listing, live records) as of this sink's last commit
        self._fold: tuple[list[str], list[dict]] | None = None

    # -- commit log -----------------------------------------------------
    def _records(self) -> list[dict]:
        """The live log records, oldest first, after refusing state this
        sink must not open. _bucket_col hashes under THIS sink's
        num_buckets/key_cols, while the log's version map reflects the
        layout that wrote it (pinned in the oldest live record): a
        mismatched or unknown layout would silently merge the wrong
        bucket directories and duplicate keys."""
        records = self.log.live()
        if not records:
            if os.path.exists(os.path.join(self.path, "manifest.json")):
                # an empty log over old state would rewrite its buckets
                # from scratch
                raise ValueError(
                    f"upsert sink state at {self.path} is in the single-file "
                    "manifest.json format, which this version does not "
                    "read; rebuild the state"
                )
            return records
        stored = records[0].get("config")
        if stored is None:
            raise ValueError(
                f"upsert sink log at {self.path} has committed batches "
                "but no pinned config: its bucket layout is unknown; "
                "rebuild the state"
            )
        if stored != self._config():
            raise ValueError(
                f"upsert sink config mismatch at {self.path}: "
                f"log pinned {stored}, sink configured {self._config()}"
            )
        return records

    def _config(self) -> dict:
        return {
            "num_buckets": self.num_buckets,
            "key_cols": self.key_cols,
            "order_col": self.order_col,
        }

    @staticmethod
    def _versions(records: list[dict], upto: int | None = None) -> dict[int, int]:
        """bucket → version as of batch ``upto`` (default: the newest):
        the compaction's full map, then each later record's buckets."""
        versions: dict[int, int] = {}
        for rec in records:
            if upto is not None and rec["batch_id"] > upto:
                break
            if "versions" in rec:
                versions = {int(b): v for b, v in rec["versions"].items()}
            versions.update(dict.fromkeys(rec.get("buckets", ()), rec["batch_id"]))
        return versions

    @staticmethod
    def _schema(records: list[dict]) -> StructType:
        """The stored state's columns: the newest pin in the log."""
        for rec in reversed(records):
            if "schema" in rec:
                return StructType.fromJson(rec["schema"])
        return StructType()

    @staticmethod
    def _retained(records: list[dict], batch_id: int) -> None:
        ids = [r["batch_id"] for r in records]
        if batch_id not in ids:
            raise ValueError(
                f"no retained snapshot for batch {batch_id} (committed: {ids})"
            )

    def _bucket_dir(self, bucket: int, version: int) -> str:
        return os.path.join(
            self.path, "versions", f"v={version}", f"_bucket={bucket}"
        )

    def _bucket_col(self) -> F.Column:
        return F.pmod(F.hash(*self.key_cols), F.lit(self.num_buckets))

    def is_batch_committed(self, batch_id: int) -> bool:
        return self.log.is_committed(batch_id)

    def bucket_versions(self) -> dict[int, int]:
        """bucket → committed version (test/inspection surface)."""
        return self._versions(self._records())

    # -- write path -----------------------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.write_batch(batch_df, batch_id)

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_batch_committed(batch_id):
            consume_replayed_batch(batch_df)
            return
        # the records this sink's last commit left need no reread while
        # the log's listing is unchanged; a listing that differs (another
        # writer appended, compacted or vacuumed) refolds
        names = self.log.names()
        if self._fold is not None and self._fold[0] == names:
            records = self._fold[1]
        else:
            records = self._records()
        stored = pinned = self._schema(records)
        tomb = self.tombstone_col
        is_tomb = F.lit(False)
        if tomb in batch_df.columns:
            is_tomb = F.coalesce(F.col(tomb), F.lit(False))
        batch = batch_df.withColumns(
            {"_bucket": self._bucket_col(), _TOMB: is_tomb, _PRIO: F.lit(1)}
        ).persist()
        try:
            # the no-op write that fills the cache also observes the
            # touched buckets: the batch is scanned once, in one job
            seen = Observation()
            (
                batch.observe(seen, F.collect_set("_bucket").alias("b"))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            touched = sorted(seen.get["b"])
            if touched:
                pinned = self._merge(batch, records, stored, touched, batch_id)
        finally:
            batch.unpersist()
        record: dict = {"batch_id": batch_id, "buckets": touched}
        if not records:
            record["config"] = self._config()
        if pinned != stored:
            record["schema"] = pinned.jsonValue()
        self.log.append(batch_id, record)
        if not records or batch_id > records[-1]["batch_id"]:
            name = os.path.basename(self.log.record_path(batch_id))
            self._fold = (sorted([*names, name]), [*records, record])

    def _merge(
        self,
        batch: DataFrame,
        records: list[dict],
        stored: StructType,
        touched: list[int],
        batch_id: int,
    ) -> StructType:
        """Rewrite the ``touched`` buckets as version ``batch_id``: their
        stored rows merged with the batch. Returns the widened schema
        pin."""
        spark = batch.sparkSession
        tomb = self.tombstone_col
        versions = self._versions(records)
        old_dirs = [self._bucket_dir(b, versions[b]) for b in touched if b in versions]
        # a prior all-delete batch leaves empty-but-present bucket dirs
        old_dirs = [d for d in old_dirs if self._dirs_have_files([d])]
        rows = batch
        if old_dirs:
            # additive schema evolution: the side that lacks a column
            # (older files, or a batch omitting it) contributes NULLs
            old = spark.read.schema(stored).parquet(*old_dirs).withColumns(
                {"_bucket": self._bucket_col(), _TOMB: F.lit(False), _PRIO: F.lit(0)}
            )
            rows = batch.unionByName(old, allowMissingColumns=True)
        # ONE exchange: each touched bucket lands whole in one shuffle
        # partition, so the write below makes one file per bucket. The
        # newest row per key wins (batch rows over stored ones, see the
        # module docstring); tombstoned winners are dropped.
        cols = [c for c in rows.columns if c not in ("_bucket", _TOMB, _PRIO, tomb)]
        values = [c for c in cols if c not in self.key_cols]
        merged = (
            rows.repartition("_bucket")
            .groupBy("_bucket", *self.key_cols)
            .agg(
                F.max_by(
                    F.struct(*values, _TOMB), F.struct(_PRIO, self.order_col)
                ).alias("_row")
            )
            .select(*self.key_cols, "_row.*", "_bucket")
            .where(~F.col(_TOMB))
            .select(*cols, "_bucket")
        )
        # the deterministic path makes a crashed replay overwrite it
        (
            merged.write.partitionBy("_bucket")
            .mode("overwrite")
            .parquet(os.path.join(self.path, "versions", f"v={batch_id}"))
        )
        # a bucket whose every key was tombstoned writes NO partition
        # dir (dynamic partition writes skip empty groups) — create
        # it empty so the log never points at a missing path
        for b in touched:
            os.makedirs(self._bucket_dir(b, batch_id), exist_ok=True)
        # the pin only widens: stored columns this batch did not carry
        # stay, in their pinned order
        written = merged.drop("_bucket").schema
        return StructType(
            [written[f.name] if f.name in written.names else f for f in stored.fields]
            + [f for f in written.fields if f.name not in stored.names]
        )

    # -- read path ------------------------------------------------------
    def current_state(
        self, spark: SparkSession, as_of_batch: int | None = None
    ) -> DataFrame:
        """The committed key-value snapshot. ``as_of_batch`` reads the
        state as of an earlier committed batch: any batch the log still
        holds a record for (``vacuum`` folds older ones away)."""
        records = self._records()
        if as_of_batch is not None:
            self._retained(records, as_of_batch)
        versions = self._versions(records, as_of_batch)
        dirs = [self._bucket_dir(b, v) for b, v in versions.items()]
        if not dirs:
            raise ValueError(f"no committed state under {self.path}")
        if not self._dirs_have_files(dirs):
            # every key tombstoned: committed but empty — parquet can't
            # infer a schema from zero files, so say what happened
            raise ValueError(f"state under {self.path} is empty (all keys deleted)")
        # mergeSchema: untouched buckets may predate an additive schema
        # change — their rows read back with NULLs in the newer columns
        return spark.read.option("mergeSchema", "true").parquet(*dirs)

    @staticmethod
    def _dirs_have_files(dirs: list[str]) -> bool:
        return any(
            f.endswith(".parquet")
            for d in dirs
            for _r, _s, files in os.walk(d)
            for f in files
        )

    def change_feed(self, spark: SparkSession, batch_id: int) -> DataFrame:
        """CDC view of one committed batch: every key it wrote, labeled
        ``insert`` (key absent before), ``update`` (with the previous
        row's columns as ``_old_<col>``), or ``delete`` (tombstoned
        keys — old values attached, current columns NULL). Reads ONLY
        the batch's own version directories plus the touched buckets'
        prior versions — delta-sized, never a snapshot scan. Downstream
        consumers get a replayable changelog without the sink writing a
        second copy of anything."""
        records = self._records()
        self._retained(records, batch_id)
        touched = [
            b for b, v in self._versions(records, batch_id).items() if v == batch_id
        ]
        new_dirs = [self._bucket_dir(b, batch_id) for b in touched]
        if not new_dirs:
            raise ValueError(f"batch {batch_id} wrote no buckets")

        prior = [r["batch_id"] for r in records if r["batch_id"] < batch_id]
        old_dirs = []
        if prior:
            prev = self._versions(records, prior[-1])
            old_dirs = [self._bucket_dir(b, prev[b]) for b in touched if b in prev]
            # emptied-by-deletes prior buckets carry no rows: dropping
            # them routes a rebirth batch to the insert-only branch
            old_dirs = [d for d in old_dirs if self._dirs_have_files([d])]
        if self._dirs_have_files(new_dirs):
            new = spark.read.option("mergeSchema", "true").parquet(*new_dirs)
        else:
            # an all-delete batch left its buckets EMPTY: take the row
            # shape from the prior snapshot so every prior key can be
            # labeled 'delete' below
            if not old_dirs or not self._dirs_have_files(old_dirs):
                raise ValueError(
                    f"batch {batch_id} emptied its buckets and no prior "
                    "snapshot is readable"
                )
            new = (
                spark.read.option("mergeSchema", "true").parquet(*old_dirs).limit(0)
            )
        value_cols = [c for c in new.columns if c not in self.key_cols]
        if not old_dirs:
            # Schema-stable with the update branch: NULL-typed _old_
            # columns so consumers can unionByName feeds across batches.
            # Caveat (documented contract): on the OLDEST retained batch
            # after vacuum pruned earlier history, prior state is gone,
            # so pre-existing keys degrade to 'insert' with NULL olds.
            return new.select(
                F.lit("insert").alias("_change"),
                *new.columns,
                *[
                    F.lit(None).cast(new.schema[c].dataType).alias(f"_old_{c}")
                    for c in value_cols
                ],
            )
        old = spark.read.option("mergeSchema", "true").parquet(*old_dirs)
        # additive evolution: a value column the prior snapshot predates
        # reads back as NULL olds (and flags as 'update' when the new
        # value is non-null — correct CDC semantics for a backfill)
        old_have = set(old.columns)
        existed = old.select(
            *self.key_cols,
            F.lit(True).alias("_existed"),
            *[
                (
                    F.col(c) if c in old_have else F.lit(None).cast(new.schema[c].dataType)
                ).alias(f"_old_{c}")
                for c in value_cols
            ],
        )
        joined = null_safe_join(new, existed, self.key_cols, "left_outer")
        # the version dirs hold full merged buckets, so carried-over
        # rows appear identical on both sides — null-safe inequality on
        # any value column separates real writes from carry-over
        differs = F.lit(False)
        for c in value_cols:
            differs = differs | ~F.col(c).eqNullSafe(F.col(f"_old_{c}"))
        upserts = joined.where(F.col("_existed").isNull() | differs).select(
            F.when(F.col("_existed").isNull(), "insert")
            .otherwise("update")
            .alias("_change"),
            *new.columns,
            *[f"_old_{c}" for c in value_cols],
        )
        # tombstoned keys: present in the touched buckets' prior state,
        # absent from the rewritten buckets — labeled with their old
        # values and NULL current columns (same delta-sized reads)
        deletes = null_safe_join(
            old, new.select(*self.key_cols), self.key_cols, "left_anti"
        ).select(
            F.lit("delete").alias("_change"),
            *[
                F.col(c)
                if c in self.key_cols
                else F.lit(None).cast(new.schema[c].dataType).alias(c)
                for c in new.columns
            ],
            *[
                (
                    F.col(c) if c in old_have else F.lit(None).cast(new.schema[c].dataType)
                ).alias(f"_old_{c}")
                for c in value_cols
            ],
        )
        return upserts.unionByName(deletes)

    # -- maintenance ----------------------------------------------------
    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Drop version directories unreachable from the last
        ``keep_last`` committed batches, folding the older log records
        into one compaction record — the retention knob that bounds
        storage at a multiple of live state instead of
        all-versions-ever. Returns the removed directory paths."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        records = self._records()
        kept = records[-keep_last:]
        live: set[tuple[int, int]] = set()
        if kept:
            base = kept[0]["batch_id"]
            versions = self._versions(records, base)
            live = set(versions.items())
            live |= {(b, r["batch_id"]) for r in kept[1:] for b in r["buckets"]}
            if len(records) > keep_last:
                # commit the compaction FIRST: a crash mid-delete then
                # leaves only orphan directories (re-collected by the
                # next vacuum), never a retained batch pointing at
                # deleted files
                folded = records[: len(records) - keep_last + 1]
                record = {
                    "batch_id": base,
                    **self.log.supersession([r["batch_id"] for r in folded]),
                    "versions": {str(b): v for b, v in versions.items()},
                    "config": self._config(),
                }
                schema = self._schema(folded)
                if schema.fields:
                    record["schema"] = schema.jsonValue()
                self.log.compact(record)
        self.log.vacuum()

        removed = []
        root = os.path.join(self.path, "versions")
        if os.path.isdir(root):
            for vdir in os.listdir(root):
                version = int(vdir.split("=", 1)[1])
                for bdir in os.listdir(os.path.join(root, vdir)):
                    if not bdir.startswith("_bucket="):
                        continue
                    bucket = int(bdir.split("=", 1)[1])
                    if (bucket, version) not in live:
                        target = os.path.join(root, vdir, bdir)
                        shutil.rmtree(target)
                        removed.append(target)
        return removed
