"""ClickHouse exactly-once storage over the public HTTP interface
(SURVEY §2.8 K7 — clickhouse/ClickHouseFileStorage.scala:27-89).

The reference inserts one RowBinary file per batch with an
``insert_deduplication_token`` and recovers positions with the in-row
A1 query. The Spark-native shape:

- ONE insert block per (topic, partition) group — the dedup token is
  derived purely from that group's offset range, so it is independent
  of Arrow batch slicing, shuffle partition counts, or any session
  config: a replayed batch re-derives byte-identical payloads and
  identical tokens under ANY configuration;
- each blob POSTs from ITS executor (``foreach``), so inserts scale
  with the cluster (parallelism = Kafka partitions in the batch) and
  never funnel through the driver;
- ClickHouse drops re-inserted blocks carrying a known token, which
  together with the replay guard gives exactly-once — PROVIDED the
  table supports insert dedup: tokens are honored for
  Replicated*MergeTree always, for plain MergeTree only when the table
  setting ``non_replicated_deduplication_window > 0`` (default 0 =
  off), and only within the recent-blocks window (default 100, which
  must cover the partitions of at least one batch).
  ``check_dedup_support()`` probes exactly these via ``system.tables``
  and is invoked before the first insert unless disabled;
- ``committed_positions`` runs the A1 aggregation over the in-row
  ``_topic/_partition/_offset/_watermark`` columns via HTTP.

The HTTP client is stdlib ``urllib`` (no driver-only dependencies; the
callable travels to executors) and is injectable for tests — the unit
suite runs against a recording ``http.server`` double.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import re
import urllib.parse
import urllib.request
from typing import Callable

from pyspark.sql import DataFrame

from stream_loader_spark.functions.rowbinary import RowBinaryEncoder
from stream_loader_spark.model.position import StreamPosition, ranges_covered_by

# (url, params, body, headers) -> response text; module-level so the
# default is picklable for executor-side use
def http_post(url: str, params: dict[str, str], body: bytes, headers: dict[str, str]) -> str:
    full = f"{url}/?{urllib.parse.urlencode(params)}"
    req = urllib.request.Request(full, data=body, headers=headers, method="POST")
    with urllib.request.urlopen(req) as resp:  # noqa: S310 — caller-supplied endpoint
        return resp.read().decode("utf-8", "replace")


def partition_token(table: str, range_keys: list[str]) -> str:
    """Deterministic dedup token for one insert block: the sorted stream
    ranges it covers, hashed. A replayed partition re-derives the same
    token, so ClickHouse drops the duplicate block."""
    h = hashlib.sha256()
    h.update(table.encode())
    for key in sorted(range_keys):
        h.update(b"|")
        h.update(key.encode())
    return h.hexdigest()


class ClickHouseHttpStorage:
    """foreachBatch sink + A1 recovery over ClickHouse HTTP.

    ``encoder`` maps the batch columns to RowBinary; the metadata
    projection columns (_topic/_partition/_offset/_watermark) must be
    part of the encoder schema for in-row recovery (reference
    loaders/ClickHouse.scala:77-97 projects exactly these).
    """

    #: sent with every INSERT: dedup on (including through dependent
    #: materialized views, which otherwise silently re-materialize
    #: replayed blocks).
    INSERT_SETTINGS = {
        "insert_deduplicate": "1",
        "deduplicate_blocks_in_dependent_materialized_views": "1",
    }

    def __init__(
        self,
        url: str,
        table: str,
        encoder: RowBinaryEncoder,
        client: Callable[[str, dict, bytes, dict], str] = http_post,
        compress: bool = False,
        topic_col: str = "topic",
        partition_col: str = "partition",
        offset_col: str = "offset",
        ts_col: str = "ts",
        verify_dedup: bool = True,
        insert_settings: dict[str, str] | None = None,
        max_rows_per_block: int = 1_000_000,
    ) -> None:
        self.url = url
        self.table = table
        self.encoder = encoder
        self.client = client
        self.compress = compress
        self.meta = (topic_col, partition_col, offset_col, ts_col)
        self.verify_dedup = verify_dedup
        self.insert_settings = dict(self.INSERT_SETTINGS, **(insert_settings or {}))
        self.max_rows_per_block = max_rows_per_block
        self._dedup_checked = False
        # driver-side committed-position cache: seeded by ONE recovery
        # query, advanced in memory per committed batch (see __call__)
        self._positions_cache: dict[tuple[str, int], StreamPosition] | None = None

    # -- write path ------------------------------------------------------
    def encoded_blocks(self, batch_df: DataFrame) -> DataFrame:
        """(num_rows, payload, token) — one RowBinary block per
        (topic, partition, offset-bucket) group, offset-sorted, token
        derived from the block's offset range alone. Grouping by the
        STREAM key is what makes the token stable: no Arrow batch
        boundary, ``spark.sql.shuffle.partitions`` value, or
        maxRecordsPerBatch change can re-key a replayed block. The
        offset bucket (``offset div max_rows_per_block``) bounds ONE
        task's pandas frame + payload blob even when a first run or a
        post-downtime restart delivers a partition's whole backlog in
        one micro-batch — without it, nothing enforced the
        maxOffsetsPerTrigger assumption and an unbounded group OOM'd
        the executor. Bucketing is offset-derived, so a replay slices
        identically and every block keeps its original token."""
        t, p, o, _ts = self.meta
        import pandas as pd
        from pyspark.sql import functions as F

        enc, table = self.encoder, self.table

        def one_group(pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(pdf):
                return pd.DataFrame({"num_rows": [], "payload": [], "token": []})
            pdf = pdf.sort_values(o)  # deterministic byte order
            key = f"{pdf[t].iloc[0]}:{pdf[p].iloc[0]}:{pdf[o].min()}:{pdf[o].max()}"
            return pd.DataFrame(
                {
                    "num_rows": [len(pdf)],
                    "payload": [enc.encode_batch(pdf.drop(columns=["_blk"]))],
                    "token": [partition_token(table, [key])],
                }
            )

        bucketed = batch_df.withColumn(
            "_blk", (F.col(o) / F.lit(int(self.max_rows_per_block))).cast("bigint")
        )
        return bucketed.groupBy(t, p, "_blk").applyInPandas(
            one_group, schema="num_rows bigint, payload binary, token string"
        )

    def insert_batch(self, batch_df: DataFrame) -> None:
        """POST every block from its executor (no driver funnel)."""
        url, table, client, compress = self.url, self.table, self.client, self.compress
        settings = dict(self.insert_settings)

        def post(row) -> None:
            body = bytes(row["payload"])
            headers = {"Content-Type": "application/octet-stream"}
            if compress:
                body = gzip.compress(body)
                headers["Content-Encoding"] = "gzip"
            client(
                url,
                {
                    "query": f"INSERT INTO {table} FORMAT RowBinary",
                    "insert_deduplication_token": row["token"],
                    **settings,
                },
                body,
                headers,
            )

        self.encoded_blocks(batch_df).foreach(post)

    # -- dedup prerequisites ---------------------------------------------
    def check_dedup_support(self) -> None:
        """Fail fast when ``insert_deduplication_token`` would be a
        silent no-op: plain (non-replicated) MergeTree honors tokens
        only with ``non_replicated_deduplication_window > 0`` — the
        DEFAULT is 0, i.e. a retried partial batch quietly duplicates
        rows. Probes ``system.tables`` for the engine and the engine's
        settings clause; Replicated*MergeTree passes unconditionally."""
        db, _, tbl = self.table.partition(".")
        if not tbl:
            db, tbl = "default", db
        query = (
            "SELECT engine, engine_full FROM system.tables "
            f"WHERE database = '{db}' AND name = '{tbl}' FORMAT JSON"
        )
        rows = json.loads(self.client(self.url, {"query": query}, b"", {})).get("data", [])
        if not rows:
            raise RuntimeError(f"table {self.table} not found while probing dedup support")
        engine = rows[0].get("engine", "")
        engine_full = rows[0].get("engine_full", "")
        if engine.startswith("Replicated"):
            return
        m = re.search(r"non_replicated_deduplication_window\s*=\s*(\d+)", engine_full)
        if not m or int(m.group(1)) <= 0:
            raise RuntimeError(
                f"table {self.table} (engine {engine}) does not deduplicate inserts: "
                "insert_deduplication_token is honored by non-replicated MergeTree "
                "only when the table setting non_replicated_deduplication_window > 0 "
                "(default 0). Create the table with that setting (sized to cover at "
                "least one batch's partition count) or use Replicated*MergeTree."
            )

    # -- recovery (A1 in-row query) --------------------------------------
    def committed_positions(self) -> dict[tuple[str, int], StreamPosition]:
        """The reference's recovery aggregation
        (ClickHouseFileStorage.scala:38-47) over the in-row metadata."""
        query = (
            "SELECT _topic AS topic, _partition AS partition, "
            "max(_offset) + 1 AS next_offset, "
            "toUnixTimestamp64Milli(max(_watermark)) AS watermark_ms "
            f"FROM {self.table} "
            # same null guard as the reference query: rows loaded by
            # other writers (no in-row metadata) must not produce a
            # bogus NULL-keyed position group
            "WHERE isNotNull(_topic) AND isNotNull(_partition) "
            "GROUP BY _topic, _partition FORMAT JSON"
        )
        text = self.client(self.url, {"query": query}, b"", {})
        out: dict[tuple[str, int], StreamPosition] = {}
        for row in json.loads(text).get("data", []):
            out[(row["topic"], int(row["partition"]))] = StreamPosition(
                int(row["next_offset"]), int(row["watermark_ms"])
            )
        return out

    def is_batch_committed(self, ranges) -> bool:
        """Every range at-or-behind the recovered positions ⇒ replayed
        (RecordBatchStorage.scala:44-64 semantics)."""
        return ranges_covered_by(ranges, self.committed_positions())

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch entry: replay guard + tokened insert.

        The A1 recovery aggregation is a FULL-TABLE GROUP BY on the
        ClickHouse side — correct once at (re)start, ruinous per batch
        on a billions-row table. It therefore runs once to seed a
        driver-side position cache, which then advances in memory after
        each successful insert (the reference likewise recovers once,
        RecordBatchStorage.scala:44-64). Staleness is safe by
        construction: a cache that UNDERestimates only re-sends a block
        whose token ClickHouse deduplicates; it can never overestimate
        because it advances only after insert_batch returns — and any
        insert failure drops the cache so the next batch re-recovers."""
        from stream_loader_spark.operators.recovery import batch_ranges, end_watermark_ms

        if self.verify_dedup and not self._dedup_checked:
            self.check_dedup_support()
            self._dedup_checked = True
        t, p, o, ts = self.meta
        batch_df = batch_df.persist()
        try:
            ranges = batch_ranges(batch_df, t, p, o, ts).collect()
            if self._positions_cache is None:
                self._positions_cache = self.committed_positions()
            if ranges_covered_by(ranges, self._positions_cache):
                return
            try:
                self.insert_batch(batch_df)
            except Exception:
                self._positions_cache = None
                raise
            for r in ranges:
                key = (r["topic"], r["partition"])
                cur = self._positions_cache.get(key)
                nxt = StreamPosition(int(r["end_offset"]) + 1, end_watermark_ms(r))
                if cur is None or nxt.offset > cur.offset:
                    self._positions_cache[key] = nxt
        finally:
            batch_df.unpersist()
