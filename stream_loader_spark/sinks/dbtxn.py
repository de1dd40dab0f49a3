"""Single-transaction database sink (SURVEY §2.8 K8/K9) over DB-API.

The reference's Vertica storages commit each batch in ONE database
transaction — ``COPY ... NO COMMIT`` for the data, then the offsets
(in-row columns for K8, a per-range offsets table with a file-id FK
for K9), then COMMIT (InRowOffsetVerticaFileStorage.scala:30-96,
ExternalOffsetVerticaFileStorage.scala:46-135). A crash anywhere rolls
the whole batch back; recovery is the A1/A3 MAX-GROUP-BY query.

This sink reproduces that contract against any Python DB-API
connection. Portability is explicit, not assumed: the placeholder
token is a constructor parameter (``param_token="?"`` for sqlite's
qmark style, ``"%s"`` for psycopg2/vertica-python's format style),
the DDL uses ANSI column types (accepted by sqlite, required
elsewhere), and the transaction contract is enforced by turning
autocommit OFF on every connection that exposes it (an autocommit
connection would silently commit each chunk, voiding atomicity).
Tested end-to-end with stdlib sqlite3 plus a statement-capture double
for the format paramstyle:

- rows stream to the loader via ``toLocalIterator`` in bounded chunks —
  the same single-ingest-stream shape as the reference's COPY (a DB
  bulk load is throughput-bound by the database, not the feeder);
- the data INSERTs and the offsets INSERT share one transaction;
- a replay guard (A3 aggregation over the offsets table) makes
  restarts no-ops, and the transaction makes partial batches
  invisible — together: exactly-once.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame

from stream_loader_spark.operators.recovery import batch_ranges, end_watermark_ms
from stream_loader_spark.model.position import StreamPosition, ranges_covered_by

CHUNK_ROWS = 10_000


class DbTransactionalSink:
    """foreachBatch sink: data + offsets ranges in one DB transaction.

    ``connect`` returns a DB-API connection (sqlite3, psycopg2, ...).
    ``data_table`` gets the batch's columns plus ``_batch_id``;
    ``offsets_table`` gets one row per (topic, partition) range — the
    K9 shape, with ``_batch_id`` as the reference's file-id FK.

    **Throughput ceiling — this is the generic FALLBACK, not the volume
    path.** The single-transaction DB-API contract forces every row
    through ONE driver-side connection (``toLocalIterator``), exactly
    as the reference funnels each batch through one JDBC ``COPY``
    stream: memory-bounded, but capped at driver NIC bandwidth no
    matter how many executors exist. Volume targets should use the
    executor-parallel shape (``sinks/clickhouse.py``'s HTTP storage:
    per-partition uploads + a dedup-token commit) and keep this sink
    for modest batches into transactional stores. ``max_rows_guard``
    makes the ceiling LOUD: batches larger than the guard raise
    instead of silently serializing an executor-scale workload through
    the driver.
    """

    def __init__(
        self,
        connect: Callable[[], object],
        data_table: str,
        offsets_table: str,
        consumer_group: str,
        data_cols: list[str],
        topic_col: str = "topic",
        partition_col: str = "partition",
        offset_col: str = "offset",
        ts_col: str = "ts",
        param_token: str = "?",
        data_col_types: dict[str, str] | None = None,
        max_rows_guard: int | None = None,
    ) -> None:
        self.connect = connect
        self.data_table = data_table
        self.offsets_table = offsets_table
        self.consumer_group = consumer_group
        self.data_cols = data_cols
        self.meta = (topic_col, partition_col, offset_col, ts_col)
        self.param_token = param_token
        self.data_col_types = data_col_types or {}
        self.max_rows_guard = max_rows_guard

    def _open(self):
        """Connect with autocommit forced OFF — the one-transaction
        contract is void on an autocommitting connection."""
        con = self.connect()
        if getattr(con, "autocommit", False) is True:
            con.autocommit = False
        return con

    def ensure_tables(self) -> None:
        cols = ", ".join(
            f"{c} {self.data_col_types[c]}" if c in self.data_col_types else c
            for c in self.data_cols
        )
        con = self._open()
        try:
            # DB-API 2.0 puts execute/executemany on CURSORS; calling
            # them on the connection is a sqlite3-only shortcut that
            # crashes psycopg2/vertica-python — the targets the
            # param_token knob exists for
            cur = con.cursor()
            cur.execute(
                f"CREATE TABLE IF NOT EXISTS {self.data_table} ({cols}, _batch_id BIGINT)"
            )
            cur.execute(
                f"CREATE TABLE IF NOT EXISTS {self.offsets_table} ("
                "_consumer_group VARCHAR(255), _topic VARCHAR(255), "
                "_partition INTEGER, _start_offset BIGINT, _end_offset BIGINT, "
                "_end_watermark_ms BIGINT, _batch_id BIGINT, "
                "UNIQUE(_consumer_group, _topic, _partition, _end_offset))"
            )
            con.commit()
        finally:
            con.close()

    # -- recovery (A3 over the offsets table) ---------------------------
    def committed_positions(self) -> dict[tuple[str, int], StreamPosition]:
        con = self._open()
        try:
            cur = con.cursor()
            cur.execute(
                f"SELECT _topic, _partition, MAX(_end_offset) + 1, MAX(_end_watermark_ms) "
                f"FROM {self.offsets_table} WHERE _consumer_group = {self.param_token} "
                "GROUP BY _topic, _partition",
                (self.consumer_group,),
            )
            rows = cur.fetchall()
        finally:
            con.close()
        return {(t, int(p)): StreamPosition(int(o), int(w or 0)) for t, p, o, w in rows}

    def is_batch_committed(self, ranges) -> bool:
        return ranges_covered_by(ranges, self.committed_positions())

    # -- write path ------------------------------------------------------
    def _row_chunks(self, batch_df: DataFrame) -> Iterable[list[tuple]]:
        """Bounded-memory row stream: toLocalIterator pulls one
        partition at a time; chunks amortize executemany round-trips."""
        chunk: list[tuple] = []
        for row in batch_df.select(*self.data_cols).toLocalIterator():
            chunk.append(tuple(row))
            if len(chunk) >= CHUNK_ROWS:
                yield chunk
                chunk = []
        if chunk:
            yield chunk

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        t, p, o, ts = self.meta
        batch_df = batch_df.persist()
        try:
            ranges = batch_ranges(batch_df, t, p, o, ts).collect()
            if self.is_batch_committed(ranges):
                return
            if self.max_rows_guard is not None:
                n = sum(r["record_count"] for r in ranges)  # no count job
                if n > self.max_rows_guard:
                    raise ValueError(
                        f"batch of {n} rows exceeds max_rows_guard="
                        f"{self.max_rows_guard}: DbTransactionalSink funnels "
                        "every row through one driver-side connection — use "
                        "the executor-parallel ClickHouse HTTP storage shape "
                        "for volume targets, or raise the guard deliberately"
                    )
            tok = self.param_token
            placeholders = ", ".join(tok for _ in self.data_cols)
            con = self._open()
            try:
                # ONE transaction: every data chunk + the offsets rows.
                # A crash before commit() leaves nothing visible.
                cur = con.cursor()
                for chunk in self._row_chunks(batch_df):
                    cur.executemany(
                        f"INSERT INTO {self.data_table} VALUES ({placeholders}, {tok})",
                        [row + (batch_id,) for row in chunk],
                    )
                cur.executemany(
                    f"INSERT INTO {self.offsets_table} VALUES "
                    f"({', '.join([tok] * 7)})",
                    [
                        (
                            self.consumer_group,
                            r["topic"],
                            r["partition"],
                            r["start_offset"],
                            r["end_offset"],
                            end_watermark_ms(r),
                            batch_id,
                        )
                        for r in ranges
                    ],
                )
                con.commit()
            except Exception:
                con.rollback()
                raise
            finally:
                con.close()
        finally:
            batch_df.unpersist()


def sqlite_connect(path: str) -> Callable[[], object]:
    """Connection factory for the sqlite3 test/reference target."""
    import sqlite3

    def connect():
        con = sqlite3.connect(path, timeout=30)
        con.execute("PRAGMA busy_timeout = 30000")
        return con

    return connect
