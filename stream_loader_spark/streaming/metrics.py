"""Observability (SURVEY §2.10): one metrics registry, fed by one
streaming query listener.

The reference keeps every loader fact in one Micrometer registry: the
records-polled distribution, the watermark delay gauge, the sinker's
commit timer and per-partition counters, and every bridged Kafka client
metric (StreamLoader.scala:43-44, KafkaSource.scala:157-163,
RecordBatchingSinker.scala:175-208, KafkaMetricsReporter.scala:38-79).
Here ``MetricsRegistry`` holds counters and gauges keyed by (name,
tags). ``MetricsListener`` fills one from each
``StreamingQueryProgress``: the stream facts and each source's Kafka
facts. ``ManifestFileSink`` keeps its commit counters in its own
registry (``sink.metrics``). No metric runs a Spark action: each comes
from a progress event or from what a commit already computed.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener


def _flatten_offsets(offsets: object) -> dict[tuple[str, int], int]:
    """Kafka progress offset JSON (``{topic: {partition: offset}}``) →
    ``{(topic, partition): offset}``. Non-Kafka sources (file streams
    report ``{"logOffset": N}``) flatten to nothing."""
    out: dict[tuple[str, int], int] = {}
    if not isinstance(offsets, dict):
        return out
    for topic, parts in offsets.items():
        if not isinstance(parts, dict):
            continue
        for p, off in parts.items():
            try:
                out[(topic, int(p))] = int(off)
            except (TypeError, ValueError):
                continue
    return out


def _parse_json(text: object) -> object:
    if not isinstance(text, str):
        return None
    try:
        return json.loads(text)
    except ValueError:
        return None


class MetricsRegistry:
    """Counters and gauges keyed by (name, tags): the seam a
    Prometheus/StatsD exporter plugs into. Mirrors the reference's
    Micrometer-registry shape (util/Metrics.scala); removal re-registers
    a 0.0 constant because exporters like Prometheus cannot unregister
    (KafkaMetricsReporter.scala:70-79)."""

    def __init__(self) -> None:
        self._values: dict[tuple[str, tuple[tuple[str, str], ...]], float] = {}

    @staticmethod
    def _key(name: str, tags: dict[str, str] | None):
        return name, tuple(sorted((tags or {}).items()))

    def set_gauge(self, name: str, value: float, tags: dict[str, str] | None = None) -> None:
        self._values[self._key(name, tags)] = float(value)

    def inc(self, name: str, amount: float = 1.0, tags: dict[str, str] | None = None) -> None:
        key = self._key(name, tags)
        self._values[key] = self._values.get(key, 0.0) + float(amount)

    def remove_gauge(self, name: str, tags: dict[str, str] | None = None) -> None:
        key = self._key(name, tags)
        if key in self._values:
            self._values[key] = 0.0

    def snapshot(self) -> dict[str, float]:
        """name.by.<tagkeys>{tag=val,...} → value (flat export form)."""
        out: dict[str, float] = {}
        for (name, tags), v in self._values.items():
            label = name + ("{" + ",".join(f"{k}={val}" for k, val in tags) + "}" if tags else "")
            out[label] = v
        return out


class MetricsListener(StreamingQueryListener):
    """Records every query's progress into ``registry``.

    Stream facts:

    - ``stream.batches`` and ``stream.records`` — counters;
    - ``stream.input-rows-per-sec``, ``stream.process-rows-per-sec``,
      ``stream.batch-duration-ms`` — the last batch's gauges;
    - ``stream.watermark-delay-ms`` — wall clock minus the event-time
      watermark, once the query has a real watermark;
    - ``stream.batch-id.by.query`` and ``stream.input-rows.by.query`` —
      the last batch of each query, tagged by query id.

    Source facts, under the reference's Kafka client-metrics naming
    (unique names by appending tag keys, client-id tag dropped;
    util/KafkaMetricsReporter.scala:38-62). Spark does not expose the
    consumer's raw metric registry, but each progress source carries the
    same facts: ``metrics`` (min/max/avg offsets-behind-latest, the
    consumer-lag family) and the ``endOffset``/``latestOffset`` maps.

    - ``kafka.source.<metric>``            — source-level metrics map
    - ``kafka.source.records-consumed``    — numInputRows per progress
    - ``kafka.source.end-offset.by.partition.topic``  (tagged gauge)
    - ``kafka.source.records-lag.by.partition.topic`` (latest − end,
      the per-partition consumer lag the reference gets from
      ``records-lag`` — only when the source reports latestOffset)
    """

    def __init__(self, registry: MetricsRegistry | None = None) -> None:
        self.registry = registry or MetricsRegistry()
        # (query id, source description) -> the partitions that source
        # last reported, so one source never retires another's gauges
        self._seen_partitions: dict[tuple[str, str], set[tuple[str, int]]] = {}

    # StreamingQueryListener interface -------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        reg = self.registry
        reg.inc("stream.batches")
        reg.inc("stream.records", p.numInputRows)
        reg.set_gauge("stream.input-rows-per-sec", p.inputRowsPerSecond or 0.0)
        reg.set_gauge("stream.process-rows-per-sec", p.processedRowsPerSecond or 0.0)
        reg.set_gauge("stream.batch-duration-ms", p.batchDuration)
        watermark = (p.eventTime or {}).get("watermark")
        # Spark reports the epoch as a placeholder until the first real
        # watermark; treating it as real would gauge a ~56-year delay
        if watermark and not watermark.startswith("1970-01-01T00:00:00"):
            wm = datetime.fromisoformat(watermark.replace("Z", "+00:00"))
            now = datetime.now(timezone.utc)
            reg.set_gauge("stream.watermark-delay-ms", int((now - wm).total_seconds() * 1000))
        query = {"query": str(p.id)}
        reg.set_gauge("stream.batch-id.by.query", p.batchId, query)
        reg.set_gauge("stream.input-rows.by.query", p.numInputRows, query)
        for src in p.sources:
            self._record_source(src, (str(p.id), getattr(src, "description", "")))

    def _record_source(self, src, source: tuple[str, str]) -> None:
        reg = self.registry
        reg.set_gauge("kafka.source.records-consumed", src.numInputRows or 0)
        if src.inputRowsPerSecond is not None:
            reg.set_gauge("kafka.source.records-consumed-rate", src.inputRowsPerSecond)
        for name, value in (src.metrics or {}).items():
            try:
                reg.set_gauge(f"kafka.source.{name}", float(value))
            except (TypeError, ValueError):
                continue
        end = _flatten_offsets(_parse_json(src.endOffset))
        latest = _flatten_offsets(_parse_json(getattr(src, "latestOffset", None)))
        for (topic, partition), off in end.items():
            tags = {"topic": topic, "partition": str(partition)}
            reg.set_gauge("kafka.source.end-offset.by.partition.topic", off, tags)
            if (topic, partition) in latest:
                reg.set_gauge(
                    "kafka.source.records-lag.by.partition.topic",
                    max(latest[(topic, partition)] - off, 0),
                    tags,
                )
        # partitions that left the subscription (rebalance, topic
        # deletion) must stop exporting: a frozen last-value lag gauge
        # is a lie an alerting pipeline acts on (the reference's
        # KafkaMetricsReporter.scala:70-79 handles removal explicitly)
        previous = self._seen_partitions.get(source, set())
        self._seen_partitions[source] = set(end)
        still = set().union(*self._seen_partitions.values())
        for topic, partition in previous - still:
            tags = {"topic": topic, "partition": str(partition)}
            reg.remove_gauge("kafka.source.end-offset.by.partition.topic", tags)
            reg.remove_gauge("kafka.source.records-lag.by.partition.topic", tags)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass
