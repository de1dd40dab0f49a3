"""Batch-directory tables committed by ``CommitLog`` records.

The offsets sinks and the ingest sinks keep their state as one table
of named parts, each a directory. Batch ``n`` writes ``batch=<n>``
under every part in overwrite mode, then appends one record
``{"batch_id": n, "rows": {part: rows}}`` to the log at
``<root>/_manifest``; each count is observed by the write that stored
the rows. The record is the commit. Readers, the replay check and
vacuum trust only records: a crash before the record leaves invisible
files that the deterministic replay overwrites, a committed batch
replays as a no-op that still runs its plan
(``consume_replayed_batch``), and a reader skips a dir whose record
counts no rows.

A fold (``compact``, ``replace_all``) writes one ``gen=<g>`` dir per
part, then one compaction record (``CommitLog.compact``) that folds
the batches it read and lists the live generations with their row
counts: ``{"gens": [{"gen": g, "rows": {part: rows}}, ...]}``. A list,
so that tiered compaction can keep several. ``vacuum`` deletes the
batch dirs of the records a compaction superseded, then the records
(``CommitLog.vacuum``), then every generation the newest compaction
does not list, below its id: superseded ones, and any a fold that died
before its record left. Run both between triggers, never concurrently
with a writing batch.

A part that holds files while the table has no log predates commit
records (its batches were committed by directory existence or by a
state file of their own) and is refused: rebuild it.
"""

from __future__ import annotations

import functools
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from stream_loader_spark.sinks.manifest import CommitLog, consume_replayed_batch


class BatchTable:
    """Named parts (name → directory) under one commit log at
    ``<root>/_manifest``. ``partition_by`` Hive-partitions every dir
    the table writes."""

    def __init__(
        self, root: str, parts: dict[str, str], partition_by: str | None = None
    ) -> None:
        self.parts = parts
        self.partition_by = partition_by
        log = os.path.join(root, "_manifest")
        if not os.path.isdir(log):
            # the log is made before anything is written to a part
            for d in parts.values():
                if os.path.isdir(d) and os.listdir(d):
                    raise ValueError(
                        f"{d!r} holds data but no commit log at {log!r}: "
                        "it predates commit records; rebuild the table"
                    )
        self.log = CommitLog(log)

    def batch_dir(self, part: str, batch_id: int) -> str:
        return os.path.join(self.parts[part], f"batch={batch_id}")

    def _gen_dir(self, part: str, gen: int) -> str:
        return os.path.join(self.parts[part], f"gen={gen}")

    # -- commit ---------------------------------------------------------
    def replayed(self, batch_df: DataFrame, batch_id: int) -> bool:
        """True if the batch is committed: its plan then runs into a
        no-op sink and the caller writes nothing."""
        if not self.log.is_committed(batch_id):
            return False
        consume_replayed_batch(batch_df)
        return True

    def _write(self, df: DataFrame, path: str) -> int:
        """Write ``df`` to ``path``; its row count rides the write."""
        rows = Observation()
        w = df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(self.partition_by)
        w.parquet(path)
        return rows.get["n"]

    def write(self, batch_id: int, frames: dict[str, DataFrame]) -> dict[str, int]:
        """Write each part's ``batch=<n>`` dir; returns the rows per
        part. Invisible until ``commit``."""
        return {
            part: self._write(df, self.batch_dir(part, batch_id)) for part, df in frames.items()
        }

    def commit(self, batch_id: int, rows: dict[str, int]) -> None:
        self.log.append(batch_id, {"batch_id": batch_id, "rows": rows})

    # -- read -----------------------------------------------------------
    def _live(self) -> tuple[list[dict], list[dict], int]:
        """(the newest compaction's generations, the live batch
        records, an id above every live record)."""
        gens: list[dict] = []
        batches: list[dict] = []
        top = -1
        for rec in self.log.live():
            top = max(top, rec["batch_id"])
            if CommitLog.is_compaction(rec):
                gens = rec["gens"]
            elif "rows" not in rec:
                raise ValueError(
                    f"commit log {self.log.path!r} holds records without row "
                    "counts: it predates batch-directory tables; rebuild the table"
                )
            else:
                batches.append(rec)
        return gens, batches, top + 1

    @staticmethod
    def _units(gens: list[dict], batches: list[dict]) -> list[tuple[str, dict]]:
        """(dir name, rows per part) of each generation and batch."""
        return [(f"gen={g['gen']}", g["rows"]) for g in gens] + [
            (f"batch={r['batch_id']}", r["rows"]) for r in batches
        ]

    def _dirs(self, part: str, units: list[tuple[str, dict]]) -> list[str]:
        return [os.path.join(self.parts[part], name) for name, rows in units if rows[part]]

    def dirs(self, part: str) -> list[str]:
        """The part's committed dirs that hold rows."""
        gens, batches, _ = self._live()
        return self._dirs(part, self._units(gens, batches))

    def _read(self, spark: SparkSession, dirs: list[str]) -> DataFrame | None:
        if not dirs:
            return None
        if not self.partition_by:
            return spark.read.parquet(*dirs)
        # each dir is read as its own root: one multi-root read would
        # take the batch=/gen= dir names for conflicting partition columns
        return functools.reduce(
            DataFrame.unionByName, [spark.read.parquet(d) for d in dirs]
        )

    def read(self, spark: SparkSession, part: str, empty: str | None = None) -> DataFrame:
        """The part's committed rows. With none, an empty frame of the
        DDL schema ``empty`` if given, else ``ValueError``."""
        return self.reads(spark, {part: empty})[part]

    def reads(self, spark: SparkSession, empties: dict[str, str | None]) -> dict[str, DataFrame]:
        """``read`` of each part in ``empties`` (part → ``empty``), all
        from one reading of the log."""
        units = self._units(*self._live()[:2])
        out = {}
        for part, empty in empties.items():
            df = self._read(spark, self._dirs(part, units))
            if df is None:
                if empty is None:
                    raise ValueError(f"no committed batches under {self.parts[part]}")
                df = spark.createDataFrame([], empty)
            out[part] = df
        return out

    # -- maintenance ----------------------------------------------------
    def compact(self, spark: SparkSession, fold=None, fanout: int | None = None) -> dict[str, int]:
        """Fold live dirs into one new generation per part; ``fold``
        re-aggregates a part's rows first. With no ``fanout``, every
        generation and batch folds into one (O(table) per call); with
        one, the batches fold into a new generation, then, while more
        than ``fanout`` generations are live, the ``fanout`` smallest
        by rows merge into one, so each row is rewritten
        O(log_fanout(table/batch)) times over the table's life.
        Returns the rows the fold of batches wrote per part (``{}``:
        nothing to fold)."""
        live = self._live()
        gens, batches, _ = live
        if fanout is None:
            if not batches and len(gens) <= 1:
                return {}
            return self._fold(spark, live, gens, batches, fold)
        rows = self._fold(spark, live, [], batches, fold) if batches else {}
        fanout = max(2, fanout)  # merging one generation into one never shrinks the list
        while len((live := self._live())[0]) > fanout:
            smallest = sorted(live[0], key=lambda g: sum(g["rows"].values()))[:fanout]
            self._fold(spark, live, smallest, [], fold)
        return rows

    def replace_all(self, spark: SparkSession, frames: dict[str, DataFrame]) -> dict[str, int]:
        """Replace every live generation and batch with one generation
        holding ``frames`` (part → rows, possibly derived under a new
        scheme from what they replace). Returns the rows per part."""
        live = self._live()
        return self._publish(live, live[0], live[1], frames)

    def _fold(self, spark, live, victims, batches, fold) -> dict[str, int]:
        units = self._units(victims, batches)
        frames = {}
        for part in self.parts:
            df = self._read(spark, self._dirs(part, units))
            frames[part] = df if df is None or fold is None else fold(df)
        return self._publish(live, victims, batches, frames)

    def _publish(self, live, victims, batches, frames) -> dict[str, int]:
        """Write ``frames`` as generation ``gen=<id>`` (unreferenced
        until the record, so a crash leaves an orphan that ``vacuum``
        deletes, never a wrong read), then publish the compaction
        record that folds ``batches`` and lists the live generations
        without ``victims``."""
        gens, _, gen = live
        rows = {
            part: 0 if df is None else self._write(df, self._gen_dir(part, gen))
            for part, df in frames.items()
        }
        self.log.compact(
            {
                "batch_id": gen,
                **self.log.supersession([r["batch_id"] for r in batches]),
                "gens": [g for g in gens if g not in victims] + [{"gen": gen, "rows": rows}],
            }
        )
        return rows

    def vacuum(self) -> list[str]:
        """Delete the batch dirs of every record a compaction superseded,
        each before its record (``CommitLog.vacuum``), so a crash midway
        leaves the record for the next vacuum. Then delete every
        ``gen=<g>`` dir the newest compaction does not list whose ``g``
        is below that compaction's id: the generations it superseded,
        and any a fold that died before its record left. A fold in
        progress always writes above that id. Returns the dirs
        removed."""
        keep = {g["gen"] for g in self._live()[0]}
        removed = []

        def rm(name: str) -> None:
            for root in self.parts.values():
                d = os.path.join(root, name)
                if os.path.isdir(d):
                    shutil.rmtree(d)
                    removed.append(d)

        def drop(rec: dict) -> None:
            if not CommitLog.is_compaction(rec):
                rm(f"batch={rec['batch_id']}")

        self.log.vacuum(drop)
        if keep:
            newest = max(keep)  # the newest compaction lists its own generation
            on_disk = {
                int(name[4:])
                for root in self.parts.values()
                if os.path.isdir(root)
                for name in os.listdir(root)
                if name.startswith("gen=")
            }
            for g in sorted(on_disk - keep):
                if g < newest:
                    rm(f"gen={g}")
        return removed
