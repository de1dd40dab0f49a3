"""Streaming materialized-view sink: per-batch incremental aggregation.

The streaming half of ``operators/matview.py``: a ``foreachBatch``
sink that keeps a per-key aggregate table current as batches arrive,
doing DELTA-sized work per batch:

1. the batch reduces to mergeable state (count / exact decimal sums /
   min / max per key) — one map-side-combinable aggregate;
2. prior state is read back for the TOUCHED keys only (left-semi
   against the delta's keys — untouched keys never enter the merge);
3. touched prior ⊕ delta merges, and the merged rows go through
   ``UpsertSink.write_batch`` — which appends them as the batch's
   delta (one file for a small batch), and gives the
   crash/replay discipline (one commit-log record per batch,
   deterministic version dirs).

Replays are no-ops BEFORE any aggregation runs: a committed batch id
short-circuits, so the merge can never double-count a delivered batch
(the at-least-once → exactly-once bridge, same contract as every other
sink in sinks/); the replayed plan still runs into a no-op sink so
upstream state stores commit. The write tracks the batch's key
footprint, not the view size. The prior-state read folds the upsert
sink's layers — a base plus every delta since its last ``vacuum`` — so
its cost grows with the commits since then; ``vacuum`` bounds it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from stream_loader_spark.operators.matview import (
    aggregate_state,
    finalize_aggregates,
    merge_aggregate_states,
)
from stream_loader_spark.sinks.manifest import consume_replayed_batch
from stream_loader_spark.sinks.upsert import UpsertSink, null_safe_join

# order column for the underlying upsert: the writing batch id — within
# one batch every key appears once, across batches later always wins
_VERSION_COL = "_mv_batch"


class IncrementalAggSink:
    """foreachBatch sink maintaining SELECT keys…, count, sum/min/max
    per value column, incrementally."""

    def __init__(
        self,
        path: str,
        keys: list[str],
        value_cols: list[str],
        num_buckets: int = 16,
    ) -> None:
        self.keys = list(keys)
        self.value_cols = list(value_cols)
        self.upsert = UpsertSink(
            path, key_cols=self.keys, order_col=_VERSION_COL, num_buckets=num_buckets
        )

    def is_batch_committed(self, batch_id: int) -> bool:
        return self.upsert.is_batch_committed(batch_id)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.write_batch(batch_df, batch_id)

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        if self.upsert.is_batch_committed(batch_id):
            # replay: state already reflects this batch
            consume_replayed_batch(batch_df)
            return
        spark = batch_df.sparkSession
        delta = aggregate_state(batch_df, self.keys, self.value_cols).persist()
        try:
            states = [delta]
            try:
                prior = self.upsert.current_state(spark).drop(_VERSION_COL)
                # touched keys only: the untouched 99% of a large view
                # never enters the merge job (null-safe: a NULL group
                # key is a real aggregation group and must fold too)
                touched = null_safe_join(
                    prior, delta.select(*self.keys), self.keys, "left_semi"
                )
                states.append(touched)
            except ValueError:
                pass  # first batch: no committed state yet
            merged = merge_aggregate_states(states, self.keys).withColumn(
                _VERSION_COL, F.lit(batch_id)
            )
            self.upsert.write_batch(merged, batch_id)
        finally:
            delta.unpersist()

    def current_view(self, spark: SparkSession) -> DataFrame:
        """The finalized aggregate table (sums as DOUBLE, avg derived)."""
        state = self.upsert.current_state(spark).drop(_VERSION_COL)
        return finalize_aggregates(state, self.keys)

    def view_as_of(self, spark: SparkSession, batch_id: int) -> DataFrame:
        """The finalized view as of an earlier committed batch — rides
        the upsert sink's commit log, whose records name the layers of
        the state as of any retained batch (``vacuum`` folds older ones
        away), so 'what did this dashboard say after batch N' is one
        fold of stored layers, never a recomputation."""
        state = self.upsert.current_state(spark, as_of_batch=batch_id)
        state = state.drop(_VERSION_COL)
        return finalize_aggregates(state, self.keys)


class SketchViewSink:
    """Continuous daily-sketch maintenance: the streaming producer of
    the ``operators/sketches.py`` stored layer.

    Per batch: the batch's rows reduce to one HLL sketch per
    (key, day); prior sketches are read back for the touched
    (key, day) cells only and folded in with the scalar two-sketch
    ``hll_union`` (per-cell, no re-aggregation of history); merged
    rows ride the upsert delta write + commit log. Replays
    short-circuit before any sketching, so a redelivered batch never
    double-inserts values — harmless for HLL (duplicate-insensitive)
    but the log also keeps ``n_rows`` exact.

    ``range_estimate`` answers the arbitrary-date-range distinct
    question from the stored layer alone (sketch-count-sized merge).
    """

    def __init__(
        self,
        path: str,
        key_col: str,
        date_col: str,
        value_col: str,
        lg_k: int = 14,
        num_buckets: int = 16,
    ) -> None:
        self.key_col = key_col
        self.date_col = date_col
        self.value_col = value_col
        self.lg_k = lg_k
        self.upsert = UpsertSink(
            path,
            key_cols=[key_col, date_col],
            order_col=_VERSION_COL,
            num_buckets=num_buckets,
        )

    def is_batch_committed(self, batch_id: int) -> bool:
        return self.upsert.is_batch_committed(batch_id)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.write_batch(batch_df, batch_id)

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from stream_loader_spark.operators.sketches import daily_hll_sketches

        if self.upsert.is_batch_committed(batch_id):
            consume_replayed_batch(batch_df)
            return
        spark = batch_df.sparkSession
        keys = [self.key_col, self.date_col]
        delta = daily_hll_sketches(
            batch_df, self.key_col, F.col(self.date_col), self.value_col, self.lg_k
        ).persist()
        try:
            try:
                prior = self.upsert.current_state(spark).drop(_VERSION_COL)
                touched = null_safe_join(
                    prior, delta.select(*keys), keys, "left_semi"
                ).select(
                    *keys,
                    F.col("sketch").alias("_prior_sketch"),
                    F.col("n_rows").alias("_prior_n"),
                )
                merged = null_safe_join(delta, touched, keys, "left").select(
                    *keys,
                    F.when(
                        F.col("_prior_sketch").isNull(), F.col("sketch")
                    )
                    .otherwise(F.hll_union("sketch", "_prior_sketch"))
                    .alias("sketch"),
                    (
                        F.col("n_rows") + F.coalesce(F.col("_prior_n"), F.lit(0))
                    ).alias("n_rows"),
                )
            except ValueError:
                merged = delta
            self.upsert.write_batch(
                merged.withColumn(_VERSION_COL, F.lit(batch_id)), batch_id
            )
        finally:
            delta.unpersist()

    def daily_estimates(self, spark: SparkSession) -> DataFrame:
        from pyspark.sql import functions as F

        state = self.upsert.current_state(spark).drop(_VERSION_COL)
        return state.select(
            self.key_col,
            self.date_col,
            "n_rows",
            F.hll_sketch_estimate("sketch").alias("distinct_approx"),
        )

    def range_estimate(self, spark: SparkSession, d0, d1) -> DataFrame:
        """Distinct estimate per key over [d0, d1] — merges only the
        stored sketch rows in range, never the raw stream."""
        from pyspark.sql import functions as F

        state = self.upsert.current_state(spark).drop(_VERSION_COL)
        d = F.col(self.date_col)
        return (
            state.where((d >= d0) & (d <= d1))
            .groupBy(self.key_col)
            .agg(
                F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                    "distinct_approx"
                )
            )
        )
