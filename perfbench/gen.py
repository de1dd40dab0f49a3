"""Seeded, single-process generator of Kafka-shaped input files.

The program under test sees these records only as parquet files that
appear in its source directory; each file is written to a staging
directory and renamed into place, so the file source never lists a
half-written file. The same (spec, seed, file count) gives
byte-identical files.

``expected_outcome`` gives the outcome a correct loader must produce
from a run of files, from a model written independently of the
program:

- ``surviving``: the (partition, offset) pairs that pass the future
  clamp, the watermark's late filter and (topic, partition, offset)
  dedup, with one micro-batch per file in file order;
- ``next_positions``: the next offset per partition after them;
- ``latest``: for the upsert sink, key -> seq of the row that wins
  (later batch wins; within a batch the highest ``seq``), with
  tombstoned keys removed.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.workloads import FILE_SPAN_MS, WATERMARK_DELAY_MS

BASE_TS_MS = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1000)
# far beyond any clock the clamp compares against
FUTURE_TS_MS = int(datetime(2100, 1, 1, tzinfo=timezone.utc).timestamp() * 1000)

SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("ts", pa.timestamp("ms", tz="UTC")),
        ("key", pa.int64()),
        ("seq", pa.int64()),
        ("props", pa.string()),
        ("deleted", pa.bool_()),
    ]
)
SPARK_SCHEMA = (
    "topic STRING, partition INT, offset BIGINT, ts TIMESTAMP, key BIGINT, "
    "seq BIGINT, props STRING, deleted BOOLEAN"
)

# record kinds; only NORMAL records are ever redelivered
NORMAL, LATE, TOO_LATE, FUTURE, DUPLICATE = range(5)


def _zipf_probs(n_keys: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    return w / w.sum()


def generate(spec: dict, seed: int, n_files: int) -> list[pa.Table]:
    """Build ``n_files`` files of traffic shaped by ``spec``."""
    rng = np.random.default_rng(seed)
    parts = spec["partitions"]
    n = spec["records_per_file"]
    probs = _zipf_probs(spec["keys"], spec["zipf_s"])
    key_of_rank = rng.permutation(spec["keys"]).astype(np.int64)
    next_off = np.zeros(parts, dtype=np.int64)
    seq = 0
    files: list[pa.Table] = []
    prev: dict | None = None
    for i in range(n_files):
        n_dup = int(round(n * spec["share_duplicate"])) if prev is not None else 0
        n_new = n - n_dup
        kind = np.full(n_new, NORMAL, dtype=np.int8)
        pos = rng.permutation(n_new)
        cut = np.cumsum(
            [int(round(n * spec[k])) for k in ("share_late", "share_too_late", "share_future")]
        )
        kind[pos[: cut[0]]] = LATE
        kind[pos[cut[0] : cut[1]]] = TOO_LATE
        kind[pos[cut[1] : cut[2]]] = FUTURE

        part = rng.integers(0, parts, n_new).astype(np.int32)
        offset = np.empty(n_new, dtype=np.int64)
        for p in range(parts):
            idx = np.flatnonzero(part == p)
            offset[idx] = next_off[p] + np.arange(len(idx))
            next_off[p] += len(idx)

        file_base = BASE_TS_MS + i * FILE_SPAN_MS
        ts = file_base + rng.integers(0, FILE_SPAN_MS, n_new)
        jitter = rng.integers(-FILE_SPAN_MS // 4, FILE_SPAN_MS // 4, n_new)
        ts = np.where(kind == LATE, file_base - WATERMARK_DELAY_MS // 2 + jitter, ts)
        ts = np.where(kind == TOO_LATE, file_base - 3 * WATERMARK_DELAY_MS + jitter, ts)
        ts = np.where(kind == FUTURE, FUTURE_TS_MS + jitter, ts)

        key = key_of_rank[rng.choice(len(probs), n_new, p=probs)]
        seqs = seq + np.arange(n_new, dtype=np.int64)
        seq += n_new
        vals = rng.integers(0, 1 << 31, n_new)
        deleted = rng.random(n_new) < spec["share_tombstone"]
        cols = {
            "partition": part,
            "offset": offset,
            "ts": ts.astype(np.int64),
            "key": key,
            "seq": seqs,
            "val": vals,
            "deleted": deleted,
            "kind": kind,
        }
        if n_dup:
            normal = np.flatnonzero(prev["kind"] == NORMAL)
            pick = rng.choice(normal, n_dup, replace=False)
            for c in cols:
                cols[c] = np.concatenate([cols[c], prev[c][pick]])
            cols["kind"][n_new:] = DUPLICATE
        order = rng.permutation(n)
        cols = {c: v[order] for c, v in cols.items()}
        prev = cols
        files.append(_table(spec["topic"], cols))
    return files


def _table(topic: str, cols: dict) -> pa.Table:
    props = [f'{{"k": {k}, "v": "{v:08x}"}}' for k, v in zip(cols["key"].tolist(), cols["val"].tolist())]
    return pa.table(
        {
            "topic": pa.array([topic] * len(props), pa.string()),
            "partition": pa.array(cols["partition"], pa.int32()),
            "offset": pa.array(cols["offset"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("ms", tz="UTC")),
            "key": pa.array(cols["key"], pa.int64()),
            "seq": pa.array(cols["seq"], pa.int64()),
            "props": pa.array(props, pa.string()),
            "deleted": pa.array(cols["deleted"], pa.bool_()),
        },
        schema=SCHEMA,
    )


def expected_outcome(files: list[pa.Table]) -> dict:
    """Replay the files through a plain-Python model of the loader.

    Append path, per batch (one file): drop rows stamped beyond the
    clamp; drop rows at or below the late-event watermark; drop
    (partition, offset) already kept. As in Spark's streaming dedup,
    late rows are judged by the watermark of the previous batch, which
    lags one batch behind the max event time seen: batch ``i`` drops
    rows at or below (max clamped event time of batches before
    ``i - 1``) minus the delay.
    Upsert path: the last batch holding a key wins, within a batch the
    row with the highest seq; a winning tombstone removes the key.
    """
    watermark = late_watermark = 0
    seen: set[tuple[int, int]] = set()
    dedup_dropped = late_dropped = future_dropped = 0
    latest: dict[int, int] = {}
    for t in files:
        d = {c: t.column(c).to_pylist() for c in ("partition", "offset", "key", "seq", "deleted")}
        ts = t.column("ts").cast(pa.int64()).to_pylist()
        clamped = [x < FUTURE_TS_MS // 2 for x in ts]
        future_dropped += clamped.count(False)
        batch_max = max((x for x, ok in zip(ts, clamped) if ok), default=None)
        for p, o, x, ok in zip(d["partition"], d["offset"], ts, clamped):
            if not ok:
                continue
            if x <= late_watermark:
                late_dropped += 1
                continue
            if (p, o) in seen:
                dedup_dropped += 1
                continue
            seen.add((p, o))
        late_watermark = watermark
        if batch_max is not None:
            watermark = max(watermark, batch_max - WATERMARK_DELAY_MS)
        winner: dict[int, tuple[int, bool]] = {}
        for k, s, dl in zip(d["key"], d["seq"], d["deleted"]):
            if k not in winner or s > winner[k][0]:
                winner[k] = (s, dl)
        for k, (s, dl) in winner.items():
            if dl:
                latest.pop(k, None)
            else:
                latest[k] = s
    next_positions: dict[int, int] = {}
    for p, o in seen:
        next_positions[p] = max(next_positions.get(p, 0), o + 1)
    return {
        "surviving": seen,
        "next_positions": next_positions,
        "latest": latest,
        "dedup_dropped": dedup_dropped,
        "late_dropped": late_dropped,
        "future_dropped": future_dropped,
    }


def parquet_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    return sink.getvalue().to_pybytes()


def publish(data: bytes, staging_dir: str, source_dir: str, name: str, mtime: float | None = None) -> str:
    """Write one file to staging and rename it into the source dir, so
    the file source only ever lists complete files. ``mtime`` pins the
    listing order of a backlog written all at once."""
    tmp = os.path.join(staging_dir, name)
    with open(tmp, "wb") as fh:
        fh.write(data)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    final = os.path.join(source_dir, name)
    os.rename(tmp, final)
    return final


def events_table(files: list[pa.Table]) -> pa.Table:
    """The same traffic in the ``events`` table shape the declared
    recovery queries read: ``event_type`` is the topic, ``user_id %
    8`` the partition and ``event_id`` the offset."""
    t = pa.concat_tables(files)
    part = t.column("partition").to_numpy().astype(np.int64)
    key = t.column("key").to_numpy()
    return pa.table(
        {
            "event_id": t.column("offset"),
            "ts": t.column("ts").cast(pa.timestamp("us")),
            "user_id": pa.array(part + 8 * key, pa.int64()),
            "event_type": t.column("topic"),
            "value": pa.array((t.column("seq").to_numpy() % 1000) / 10.0, pa.float64()),
            "props": t.column("props"),
        }
    )
