"""Partition-group isolation (SURVEY §2.3 G1).

The reference's ``PartitionGroupingSink`` maps each topic-partition to a
named group and gives every group an isolated sinker with its own files
and batches (sink/PartitionGroupingSink.scala:44-129). The Spark-native
equivalent is one streaming query per group over a shared source
definition: each query filters its group's rows and owns an isolated
sink + checkpoint, so a slow or failing group never blocks the others —
the same isolation the reference builds with per-group threads.
Rebalance bookkeeping disappears: each query's checkpoint tracks its
own offsets.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession

from stream_loader_spark.streaming.pipeline import StreamPipeline


class PartitionGroupingPipeline:
    """One isolated StreamPipeline per partition group.

    ``grouping`` maps group name → row predicate (the analogue of
    ``groupForPartition``); ``sink_factory`` builds a fresh sink per
    group (the analogue of ``sinkerForPartitionGroup``).
    """

    def __init__(
        self,
        spark: SparkSession,
        source_factory: Callable[[StreamPipeline], StreamPipeline],
        grouping: dict[str, Column],
        sink_factory: Callable[[str], Callable[[DataFrame, int], None]],
        checkpoint_root: str,
    ) -> None:
        self.spark = spark
        self.source_factory = source_factory
        self.grouping = grouping
        self.sink_factory = sink_factory
        self.checkpoint_root = checkpoint_root
        self.sinks: dict[str, Callable[[DataFrame, int], None]] = {}

    def _pipeline_for(self, group: str, predicate: Column) -> StreamPipeline:
        sink = self.sink_factory(group)
        self.sinks[group] = sink
        pipe = self.source_factory(StreamPipeline(self.spark))
        return pipe.transform(lambda df, p=predicate: df.where(p)).sink(
            sink, f"{self.checkpoint_root}/{group}"
        )

    def start_all(self):
        return {
            g: self._pipeline_for(g, pred).start() for g, pred in self.grouping.items()
        }

    def run_available_all(self, timeout_sec: int = 300) -> None:
        """Drain every group CONCURRENTLY; one group's failure or hang
        never prevents (or delays) the others from draining — the
        isolation this class exists for. A sequential drain would let a
        single hung sink stall every later group by up to timeout_sec.
        All queries start first, then each is awaited; failures are
        collected and re-raised together at the end."""
        failures: dict[str, Exception] = {}
        started: dict[str, object] = {}
        for g, pred in self.grouping.items():
            try:
                pipe = self._pipeline_for(g, pred)
                started[g] = pipe.trigger(availableNow=True).start()
            except Exception as e:  # noqa: BLE001 — isolate per group
                failures[g] = e
        for g, q in started.items():
            try:
                if not q.awaitTermination(timeout_sec):
                    q.stop()
                    raise TimeoutError(
                        f"availableNow drain did not finish within {timeout_sec}s"
                    )
            except Exception as e:  # noqa: BLE001 — isolate per group
                failures[g] = e
        if failures:
            details = "; ".join(f"{g}: {e}" for g, e in failures.items())
            raise RuntimeError(f"{len(failures)} partition group(s) failed: {details}")
