"""Traffic shape and phase sizes of each workload.

Both workloads send Kafka-shaped records (topic, partition, offset, ts,
key, seq, props, deleted) over 8 partitions with contiguous
per-partition offsets and Zipf-skewed keys. A small share of each file
is irregular traffic: redeliveries of records from the previous file,
late records inside the watermark delay, records older than the
watermark and records stamped far in the future.

Why these two:

- ``ingest_append`` runs the manifest sink behind the JSON formatter,
  watermark clamp, date partitioning and watermark-bounded dedup. Sink
  work per batch is small, so the engine's per-batch overhead and the
  manifest two-phase commit are a large share of every batch: engine
  and commit-protocol changes show here.
- ``ingest_upsert`` runs the upsert sink keyed on a skewed key with
  about 20k distinct keys and a share of tombstones. The sink does a
  read-modify-write of bucketed state and rewrites its JSON manifest
  on every commit, so sink cost dominates and grows with state; engine
  changes should barely move it.
"""

from __future__ import annotations

# event time advances by this much per file; the watermark delay is a
# few files wide, so dedup state stays bounded and is evicted
FILE_SPAN_MS = 60_000
WATERMARK_DELAY_MS = 180_000

COMMON = {
    "topic": "clicks",
    "partitions": 8,
    "records_per_file": 2000,
    "zipf_s": 1.1,
    "share_duplicate": 0.02,
    "share_late": 0.02,
    "share_too_late": 0.01,
    "share_future": 0.005,
    "share_tombstone": 0.0,
}

WORKLOADS = {
    "ingest_append": {
        **COMMON,
        "keys": 50_000,
        # drained first; their batches are the untimed warm-up. The first
        # batch of a fresh JVM takes about 5 s and the next few about
        # 1.3 s; later ones keep getting faster for tens of batches as
        # the JIT compiles the per-batch path, whose CPU the CPU metric
        # leaves out
        "warmup_files": 2,
        # closed-loop backlog per measured second: about 0.9 s per
        # micro-batch at this commit on 4 cores
        "files_per_s": 1.1,
        # open loop (traced runs only): one file every live_interval_s,
        # about two thirds of the drain rate
        "live_files": 4,
        "live_interval_s": 1.7,
        # the traced run's restart simulates a crash inside the
        # micro-batch, before the sink commits it. A crash after the
        # sink's commit (newest commits/N deleted) fails the replay on
        # this pipeline at this commit: the manifest sink skips the
        # already-committed batch without reading it, so the dedup
        # state store is never committed and Spark raises
        # STATE_STORE_COMMIT_VALIDATION_FAILED
        "crash": "before_commit",
    },
    "ingest_upsert": {
        **COMMON,
        "keys": 20_000,
        "share_tombstone": 0.05,
        # buckets sized to the ~20k-key state; at the default 16 each
        # batch costs about 1.6x more on 4 cores, mostly per-bucket overhead
        "buckets": 4,
        # batch times settle after about 10 batches (5 s, 2.3 s, then
        # 1.6 s -> 1.2 s on 4 cores) as the JIT compiles
        "warmup_files": 2,
        # about 1.25 s per micro-batch at this commit on 4 cores, up to
        # twice that when other tenants load the machine; sized so that
        # a loaded run still fits its time
        "files_per_s": 0.7,
        "live_files": 3,
        "live_interval_s": 3.9,
        # the sink commits the crash file's batch, then the process dies
        # before the engine's commit (newest commits/N deleted): the
        # restart replays a batch the sink already holds
        "crash": "after_commit",
    },
}
