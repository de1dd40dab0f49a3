"""Exactly-once key-value upsert sink (CDC / SCD-type-1 merge).

The reference's storages append batches; warehouse loaders frequently
need the MERGE form instead — each record carries a key and the sink
keeps only the latest row per key. This sink provides that on plain
parquet with the repo's commit log (``CommitLog`` and the crash matrix
in sinks/manifest.py), merge-on-read (the trade Hudi's MOR tables and
Delta's deletion vectors make): a commit appends the batch's delta and
never rewrites what earlier commits wrote, like the reference's
append-only storages.

- State is hash-bucketed by key. A commit writes only the batch's
  newest row per key, tombstones included, as plain files under
  ``versions/v=<batch_id>/``: one ``max_by`` per key, partially
  aggregated map-side before its one exchange, coalesced to at most
  ``num_buckets`` files. A small batch lands as one file with adaptive
  query execution on (the reference's ``FileRecordBatcher`` closes one
  file per batch too), and never as more than ``num_buckets`` with it
  off. The write observes the set of buckets its keys hash to. It
  reads no stored state, so a commit costs the batch, not the state.
  The codec is the session's (zstd, see session.py).
- A bucket's state is its newest base (written by ``vacuum``, one
  directory per bucket under ``versions/base=<batch_id>/_bucket=<b>/``)
  plus the deltas committed after it that touched the bucket.
  Every reader folds those layers with one aggregate: the newest row
  per key by version, tombstones dropped. Each stored row carries its
  version and tombstone flag under reserved ``_upsert_*`` names that
  readers never see. Read cost grows with the deltas since the last
  ``vacuum``; ``vacuum`` is where compaction happens, never a commit.
- A commit appends one small record to the log under ``_manifest/``
  (``atomic_write_json``: fsynced temp file, rename, fsynced
  directory) naming the buckets it wrote. The first record pins the
  layout (``config``); a record carries the stored schema (``schema``)
  when the batch widened it. The pin is the running union of every
  batch's columns, so stored rows are read without inferring it: a
  batch may add columns (older rows read back NULL) or omit them (the
  key's new row holds NULL there; keys the batch did not write keep
  their values). A commit keeps the pin its sink's last commit left
  and reopens no record while the log's listing is unchanged.
- The layers as of any retained batch are the newest compaction
  record's bases and the deltas of the records after it, up to that
  batch. Readers open exactly the directories the log names; a crash
  between data and record leaves invisible files that the
  deterministic replay overwrites. Data files are NEVER renamed —
  object-store safe, same as the manifest file sink.
- A backfill (a reserved negative batch id) precedes the stream: a
  negative id below a batch id the log already names is refused with
  ``ValueError`` before any data is written. The oldest live record
  carries the pinned layout, and a backfill committed late would sort
  before it.
- Replays write nothing: the batch's record exists (or a compaction's
  watermark covers it). The replayed batch's plan still runs into a
  no-op sink so stateful operators upstream commit their state
  (``consume_replayed_batch``).

The newest row per key wins. A batch row beats the stored row whatever
its ``order_col`` value (the version orders layers); inside one batch
the greatest ``order_col`` wins and a non-NULL value beats NULL (rows
that tie on it resolve arbitrarily). The tombstone marker rides
through the same ``max_by``, so delete-then-reinsert in one batch
resolves by ``order_col`` too, and NULL keys group like any other
value. ``order_col`` must not be a key.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from stream_loader_spark.sinks.manifest import CommitLog, consume_replayed_batch

# stored beside every row, never shown to readers: its tombstone flag
# and the version (batch id) of the layer holding it
_TOMB = "_upsert_tomb"
_VER = "_upsert_version"
# the pinned layout: deltas folded on read. Full-bucket versions, the
# layout before it, must not be folded as deltas: a key deleted in a
# later version would come back from an earlier one.
_LAYOUT = "delta"


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
        # stored as the reserved tombstone flag, never under its own
        # name. Not pinned in the log's config: it names a batch
        # column, not a layout choice.
        if tombstone_col in self.key_cols or tombstone_col == order_col:
            raise ValueError("tombstone_col must not be a key or order column")
        self.tombstone_col = tombstone_col
        self.log = CommitLog(os.path.join(path, "_manifest"))
        # (log listing, schema pin) as of this sink's last commit
        self._fold: tuple[list[str], StructType] | None = None

    # -- commit log -----------------------------------------------------
    def _records(self) -> list[dict]:
        """The live log records, oldest first, after refusing state this
        sink must not open. _bucket_col hashes under THIS sink's
        num_buckets/key_cols, while the log's layers reflect the layout
        that wrote them (pinned in the oldest live record): a
        mismatched or unknown layout would silently fold the wrong
        bucket directories and duplicate or revive keys."""
        records = self.log.live()
        if not records:
            if os.path.exists(os.path.join(self.path, "manifest.json")):
                # an empty log over old state would start over beside it
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
        if stored.get("layout") != _LAYOUT:
            raise ValueError(
                f"upsert sink state at {self.path} holds whole-bucket "
                "versions, which this version would fold as deltas and "
                "so revive deleted keys; rebuild the state"
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
            "layout": _LAYOUT,
        }

    def _layers(
        self, records: list[dict], upto: int | None = None
    ) -> list[tuple[int, str, list[int]]]:
        """(version, kind, buckets) of every layer of the state as of
        batch ``upto`` (default: the newest), oldest first: the
        compaction's bases (kind ``base``, one ``_bucket=<b>`` directory
        per bucket), then each later record's delta (kind ``v``, files
        holding every bucket it touched)."""
        layers: list[tuple[int, str, list[int]]] = []
        for rec in records:
            v = rec["batch_id"]
            if upto is not None and v > upto:
                break
            if CommitLog.is_compaction(rec):
                layers = [(v, "base", rec["bases"])]
            else:
                layers.append((v, "v", rec["buckets"]))
        return [layer for layer in layers if layer[2]]

    @staticmethod
    def _schema(records: list[dict], upto: int | None = None) -> StructType:
        """The stored state's columns as of batch ``upto`` (default: the
        newest): the newest pin in the log up to it."""
        for rec in reversed(records):
            if "schema" in rec and (upto is None or rec["batch_id"] <= upto):
                return StructType.fromJson(rec["schema"])
        return StructType()

    @staticmethod
    def _retained(records: list[dict], batch_id: int) -> dict:
        for rec in records:
            if rec["batch_id"] == batch_id:
                return rec
        raise ValueError(
            f"no retained snapshot for batch {batch_id} "
            f"(committed: {[r['batch_id'] for r in records]})"
        )

    def _version_dir(self, kind: str, version: int) -> str:
        """``v`` holds a batch's delta, ``base`` a vacuum's fold."""
        return os.path.join(self.path, "versions", f"{kind}={version}")

    def _bucket_col(self) -> F.Column:
        return F.pmod(F.hash(*self.key_cols), F.lit(self.num_buckets))

    def is_batch_committed(self, batch_id: int) -> bool:
        return self.log.is_committed(batch_id)

    def bucket_versions(self) -> dict[int, int]:
        """bucket → the version of its newest layer: the batch that last
        wrote a delta to it, or the base ``vacuum`` folded it into
        (test/inspection surface)."""
        return {b: v for v, _, buckets in self._layers(self._records()) for b in buckets}

    # -- write path -----------------------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.write_batch(batch_df, batch_id)

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_batch_committed(batch_id):
            consume_replayed_batch(batch_df)
            return
        if batch_id < 0:
            newest = max((r["batch_id"] for r in self.log.live()), default=batch_id)
            if batch_id < newest:
                raise ValueError(
                    f"upsert sink at {self.path}: backfill batch {batch_id} "
                    f"comes after batch {newest}; backfills must precede "
                    "the stream, in ascending id order"
                )
        # the pin this sink's last commit left needs no reread while the
        # log's listing is unchanged; a listing that differs (another
        # writer appended, compacted or vacuumed) refolds
        names = self.log.names()
        if self._fold is not None and self._fold[0] == names:
            first, stored = False, self._fold[1]
        else:
            records = self._records()
            first, stored = not records, self._schema(records)
        tomb = self.tombstone_col
        is_tomb = F.lit(False)
        if tomb in batch_df.columns:
            is_tomb = F.coalesce(F.col(tomb), F.lit(False))
        rows = batch_df.withColumn(_TOMB, is_tomb)
        cols = [c for c in rows.columns if c not in (_TOMB, tomb)]
        values = [c for c in cols if c not in self.key_cols]
        # The batch's newest row per key is the delta, tombstones
        # included. max_by reduces map-side before the one exchange;
        # the coalesce caps the files when adaptive execution is off
        # (with it on, a small batch is one partition already).
        delta = (
            rows.groupBy(*self.key_cols)
            .agg(
                F.max_by(F.struct(*values, _TOMB), F.struct(self.order_col)).alias("_row")
            )
            .select(*self.key_cols, "_row.*")
            .select(*cols, _TOMB, F.lit(batch_id).cast("long").alias(_VER))
            .coalesce(self.num_buckets)
        )
        seen = Observation()
        # the deterministic path makes a crashed replay overwrite it
        (
            delta.observe(seen, F.collect_set(self._bucket_col()).alias("b"))
            .write.mode("overwrite")
            .parquet(self._version_dir("v", batch_id))
        )
        touched = sorted(seen.get["b"])
        pinned = stored
        if touched:
            # the pin only widens: stored columns this batch did not
            # carry stay, in their pinned order
            written = delta.select(*cols).schema
            pinned = StructType(
                [written[f.name] if f.name in written.names else f for f in stored.fields]
                + [f for f in written.fields if f.name not in stored.names]
            )
        record: dict = {"batch_id": batch_id, "buckets": touched}
        if first:
            record["config"] = self._config()
        if pinned != stored:
            record["schema"] = pinned.jsonValue()
        self.log.append(batch_id, record)
        name = os.path.basename(self.log.record_path(batch_id))
        self._fold = (sorted({*names, name}), pinned)

    # -- read path ------------------------------------------------------
    def _fold_layers(
        self,
        spark: SparkSession,
        layers: list[tuple[int, str, list[int]]],
        schema: StructType,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """The live rows of ``layers`` (of ``buckets`` only, if given):
        the newest row per key by version, tombstones dropped, exactly
        the ``schema`` columns. Read with the pin, so no job infers a
        schema, and one path per layer, except that ``buckets`` picks
        a base's bucket directories and skips deltas that touched none
        of them. A delta is read whole (flat files, or one directory
        per bucket as earlier versions wrote them) and its rows are
        filtered by bucket."""
        paths, held = [], []
        for v, kind, bs in layers:
            mine = bs if buckets is None else [b for b in bs if b in buckets]
            d = self._version_dir(kind, v)
            if buckets is not None and kind == "base":
                paths += [os.path.join(d, f"_bucket={b}") for b in mine]
            elif mine:
                paths.append(d)
            held += mine
        if not paths:
            return spark.createDataFrame([], schema)
        rows = (
            spark.read.option("recursiveFileLookup", "true")
            .schema(
                StructType(
                    [
                        *schema.fields,
                        StructField(_TOMB, BooleanType()),
                        StructField(_VER, LongType()),
                    ]
                )
            )
            .parquet(*paths)
        )
        if buckets is not None:
            rows = rows.where(self._bucket_col().isin(buckets))
        if len(set(held)) < len(held):
            # a key lives in one bucket, and a layer holds one row per
            # key: with one layer per bucket there is nothing to fold
            values = [c for c in schema.names if c not in self.key_cols]
            rows = (
                rows.groupBy(*self.key_cols)
                .agg(F.max_by(F.struct(*values, _TOMB), F.col(_VER)).alias("_row"))
                .select(*self.key_cols, "_row.*")
            )
        return rows.where(~F.col(_TOMB)).select(*schema.names)

    def current_state(
        self, spark: SparkSession, as_of_batch: int | None = None
    ) -> DataFrame:
        """The committed key-value snapshot. ``as_of_batch`` reads the
        state as of an earlier committed batch: any batch the log still
        holds a record for (``vacuum`` folds older ones away). State
        whose every key is deleted is an empty frame with the pinned
        columns; state no batch has written a row to (no pin) raises
        ``ValueError``."""
        records = self._records()
        if as_of_batch is not None:
            self._retained(records, as_of_batch)
        schema = self._schema(records, as_of_batch)
        if not schema.fields:
            raise ValueError(f"no committed state under {self.path}")
        return self._fold_layers(spark, self._layers(records, as_of_batch), schema)

    def change_feed(self, spark: SparkSession, batch_id: int) -> DataFrame:
        """CDC view of one committed batch: every key it wrote, labeled
        ``insert`` (no live row before), ``update`` (a live row before
        that differs; its columns attached as ``_old_<col>``), or
        ``delete`` (a tombstone over a live row — old values attached,
        current columns NULL). It is the batch's delta joined to the
        state as of the batch before, read from the touched buckets
        only. A batch ``vacuum`` folded into a base has no delta left
        to read; the oldest batch ever committed has no prior state, so
        all its rows are inserts."""
        records = self._records()
        rec = self._retained(records, batch_id)
        if CommitLog.is_compaction(rec):
            raise ValueError(
                f"batch {batch_id} was folded into a base by vacuum: "
                "its change feed is no longer retained"
            )
        if not rec["buckets"]:
            raise ValueError(f"batch {batch_id} wrote no buckets")
        schema = self._schema(records, batch_id)
        keys = self.key_cols
        values = [c for c in schema.names if c not in keys]
        new = spark.read.schema(
            StructType([*schema.fields, StructField(_TOMB, BooleanType())])
        ).option("recursiveFileLookup", "true").parquet(self._version_dir("v", batch_id))
        prior = [r["batch_id"] for r in records if r["batch_id"] < batch_id]
        layers = self._layers(records, prior[-1]) if prior else []
        old = self._fold_layers(spark, layers, schema, rec["buckets"])
        existed = old.select(
            *keys,
            F.lit(True).alias("_existed"),
            *[F.col(c).alias(f"_old_{c}") for c in values],
        )
        joined = null_safe_join(new, existed, keys, "left_outer")
        dead, had = F.col(_TOMB), F.col("_existed").isNotNull()
        # null-safe inequality on any value column: re-writing a key's
        # live row unchanged is not a change
        differs = F.lit(False)
        for c in values:
            differs = differs | ~F.col(c).eqNullSafe(F.col(f"_old_{c}"))
        return joined.where(F.when(dead, had).otherwise(~had | differs)).select(
            F.when(dead, "delete").when(had, "update").otherwise("insert").alias("_change"),
            *[c if c in keys else F.when(~dead, F.col(c)).alias(c) for c in schema.names],
            *[f"_old_{c}" for c in values],
        )

    # -- maintenance ----------------------------------------------------
    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Fold the state as of the oldest of the last ``keep_last``
        committed batches into one base per bucket, and drop every
        version directory that base covers — the retention knob that
        bounds storage at a multiple of live state and reads at one
        base plus the retained deltas. The bases are written first, then
        the compaction record naming them, then the deletes: a crash
        anywhere leaves only orphan directories, which a later vacuum
        collects. Returns the removed directory paths."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        records = self._records()
        if len(records) > keep_last:
            base = records[-keep_last]["batch_id"]
            folded = records[: len(records) - keep_last + 1]
            schema = self._schema(folded)
            spark = SparkSession.active()
            state = self._fold_layers(spark, self._layers(folded), schema)
            seen = Observation()
            (
                state.withColumns(
                    {
                        _TOMB: F.lit(False),
                        _VER: F.lit(base).cast("long"),
                        "_bucket": self._bucket_col(),
                    }
                )
                .repartition("_bucket")
                .observe(seen, F.collect_set("_bucket").alias("b"))
                .write.partitionBy("_bucket")
                .mode("overwrite")
                .parquet(self._version_dir("base", base))
            )
            record = {
                "batch_id": base,
                **self.log.supersession([r["batch_id"] for r in folded]),
                "bases": sorted(seen.get["b"]),
                "config": self._config(),
            }
            if schema.fields:
                record["schema"] = schema.jsonValue()
            self.log.compact(record)
            records = [record, *records[len(folded):]]

        removed = []
        root = os.path.join(self.path, "versions")
        if records and CommitLog.is_compaction(records[0]) and os.path.isdir(root):
            # every delta and base up to the compaction's batch is in
            # its bases; later directories are retained or not yet
            # committed, and a replay overwrites the latter
            upto = records[0]["batch_id"]
            for name in sorted(os.listdir(root)):
                kind, _, version = name.partition("=")
                if int(version) < upto or (int(version) == upto and kind == "v"):
                    shutil.rmtree(os.path.join(root, name))
                    removed.append(os.path.join(root, name))
        self.log.vacuum()
        return removed
