"""Stream positions.

Semantics mirror the reference's ``StreamPosition`` (a pair of Kafka
offset and event-time watermark, ordered by offset —
reference model/StreamPosition.scala:17-19) without copying its code:
here it is a frozen dataclass used by sink manifests and recovery
queries. Watermarks are epoch milliseconds (UTC), matching the
reference's ``Timestamp`` value class (model/Timestamp.scala:18-38).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone


def millis_to_datetime(ms: int) -> datetime:
    """Epoch-millis → timezone-aware UTC datetime."""
    return datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc)


@dataclass(frozen=True, order=False)
class StreamPosition:
    """A position in one stream partition: next offset + watermark.

    Ordering is by offset only (watermark is a monotonic side-channel),
    matching reference model/StreamPosition.scala:19.
    """

    offset: int
    watermark_ms: int

    def __lt__(self, other: "StreamPosition") -> bool:
        return self.offset < other.offset

    def __le__(self, other: "StreamPosition") -> bool:
        return self.offset <= other.offset

    def __gt__(self, other: "StreamPosition") -> bool:
        return self.offset > other.offset

    def __ge__(self, other: "StreamPosition") -> bool:
        return self.offset >= other.offset

    @property
    def watermark(self) -> datetime:
        return millis_to_datetime(self.watermark_ms)

    def moved_by(self, offset_delta: int) -> "StreamPosition":
        """Shift the offset, clamping at zero (used for rewind)."""
        return StreamPosition(max(0, self.offset + offset_delta), self.watermark_ms)


def ranges_covered_by(ranges, committed: dict) -> bool:
    """Replay-guard predicate shared by the transactional-DB, ClickHouse
    and Iceberg sinks: True iff EVERY (topic, partition) range in the
    batch ends strictly below that partition's committed next-offset.
    ``ranges`` are row-like mappings with topic/partition/end_offset
    (the stream_ranges output); ``committed`` maps (topic, partition)
    → StreamPosition. One definition — the '>= pos.offset' boundary is
    subtle enough that two copies WILL drift."""
    if not committed:
        return False
    for r in ranges:
        pos = committed.get((r["topic"], r["partition"]))
        if pos is None or r["end_offset"] >= pos.offset:
            return False
    return True
