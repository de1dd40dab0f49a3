"""Custom stateful streaming operators (applyInPandasWithState).

``with_tracked_watermark`` reproduces the reference's
``MaxWatermarkProvider`` semantics EXACTLY (source/WatermarkProvider.scala:
50-77): every record is delivered downstream carrying the per-partition
watermark current at its position in the stream; records whose event
time is further than ``valid_diff_ms`` in the future of the processing
clock do NOT advance the watermark (but still flow). Spark's built-in
``withWatermark`` cannot express this ("deliver but don't advance"), so
the watermark lives in grouped state keyed by (topic, partition):

- state = the partition's watermark (one long — constant per partition,
  no growth);
- per batch, a vectorized cumulative max over valid event times,
  seeded from state, stamps each row;
- Arrow-batched pandas transfer, grouped by partition → parallel across
  partitions, exactly the reference's per-partition tracker layout.

The operator is built on ``applyInPandasWithState``, which runs on Spark
3.5 and 4. Spark 4's ``transformWithStateInPandas`` could hold the same
state, but its Python state server needs the ``protobuf`` package,
which this project does not depend on.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEFAULT_VALID_DIFF_MS = 3_600_000


def _stamp_watermarks(chunks, wm, now_ms, valid_diff_ms, in_cols, tz):
    """Stamp one (topic, partition) group: buffer → offset order →
    epoch ms → validity clamp → state-floored cumulative max.

    Timezone correctness: Spark's Arrow conversion delivers timestamps
    LOCALIZED to spark.sql.session.timeZone with tzinfo stripped, so a
    naive ``astype(int64)`` would yield session-local wall-clock ms —
    compared against the true-UTC processing clock, every record in an
    east-of-UTC session would look hours in the future and the
    watermark would never advance. The session tz (captured at plan
    build) re-localizes to true epoch. Returns (stamped_pdf | None,
    new_wm)."""
    if not chunks:
        return None, wm
    pdf = pd.concat(chunks, ignore_index=True).sort_values(["offset"]).reset_index(
        drop=True
    )
    ts = pdf["ts"]
    if getattr(ts.dt, "tz", None) is None and tz:
        # ambiguous/nonexistent local times (DST edges) become NaT →
        # hugely negative ms → valid but never advancing: they flow,
        # they just cannot move the watermark
        ts = ts.dt.tz_localize(tz, ambiguous="NaT", nonexistent="shift_forward")
    # numpy path: tz-aware → UTC, NaT → int64 min (never a pandas raise)
    ts_ms = ts.to_numpy(dtype="datetime64[ns]").astype("int64") // 1_000_000
    valid = ts_ms <= now_ms + valid_diff_ms
    candidates = np.where(valid, ts_ms, -(2**62))
    # running max of valid event times, floored by the carried state
    running = np.maximum(np.maximum.accumulate(candidates), wm)
    if len(running):
        wm = int(running[-1])
    pdf["watermark_ms"] = running
    return pdf[in_cols + ["watermark_ms"]], wm


def with_tracked_watermark(
    stream: DataFrame,
    valid_diff_ms: int = DEFAULT_VALID_DIFF_MS,
    now_ms_fn=lambda: int(time.time() * 1000),
) -> DataFrame:
    """stream(topic, partition, offset, ts, ...) → same + watermark_ms.

    Streaming-only (requires a streaming DataFrame). State per
    (topic, partition) is the last watermark; restarts recover it from
    the checkpoint's state store.
    """
    in_cols = stream.schema.fieldNames()
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in stream.schema.fields)
    out_schema += ", watermark_ms bigint"

    tz = stream.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")

    def track(key, pdfs, state: GroupState):
        wm = state.get[0] if state.exists else -1
        # Arrow chunks of one group arrive in arbitrary shuffle order;
        # _stamp_watermarks buffers and re-sorts by offset so stamps
        # reflect stream order, not chunk arrival order. Memory is
        # bounded by the micro-batch's share of one (topic, partition).
        out, wm = _stamp_watermarks(
            list(pdfs), wm, now_ms_fn(), valid_diff_ms, in_cols, tz
        )
        state.update((wm,))
        if out is not None:
            yield out

    return (
        stream.groupBy("topic", "partition")
        .applyInPandasWithState(
            track,
            outputStructType=out_schema,
            stateStructType="watermark_ms bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
