"""Declared query inventory (SURVEY §2) with DuckDB oracle SQL.

Every entry here is exposed through ``__spark_entry__.queries()`` /
``oracle_sql()``. Conventions that make cross-engine hash comparison
work:

- every computed column is aliased identically in Spark and SQL;
- money aggregates go through exact DECIMAL(18,6) sums and are cast to
  DOUBLE only at the end (float-sum order nondeterminism would break
  hash equality);
- cosines are rounded to 6 decimals before ranking; all top-k orderings
  tie-break on a unique id;
- timestamps compare under UTC session timezone.

Queries without an oracle entry (minhash/simhash/IVF/multimodal) are
non-SQL-expressible or approximate; the driver records a rows-only
check and pytest verifies them against exact baselines instead.
"""

from __future__ import annotations

import os
import re
import shutil
from datetime import datetime
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from stream_loader_spark.sources.tables import load_table
from stream_loader_spark.sources.kafka_view import as_stream_records, KAFKA_VIEW_SQL
from stream_loader_spark.operators.recovery import (
    committed_positions,
    committed_positions_external,
    stream_ranges,
    merge_range_table,
)
from stream_loader_spark.operators.projection import (
    with_metadata_projection,
    with_date_partition,
    formatted_records,
)
from stream_loader_spark.operators.watermark import clamped_watermark_agg
from stream_loader_spark.operators.idempotence import dedup_tokens, deterministic_file_names
from stream_loader_spark.operators.text import with_text_stats, with_lang_id, with_fingerprint
from stream_loader_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from stream_loader_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    cosine_near_dup_pairs,
)
from stream_loader_spark.operators.multimodal import (
    synthetic_media,
    extract_features,  # noqa: F401 — vector API re-exported for operator users
    feature_summary,
    sample_frames,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}

# Fixed "wall clock" for the deterministic watermark clamp (events span
# 2024-01-01..2024-01-30; this clamps everything past Jan 15 01:00).
CLAMP_NOW = datetime(2024, 1, 15, 0, 0, 0)

_KAFKA_CTE = f"WITH kafka AS ({KAFKA_VIEW_SQL})"


# Session settings every query depends on, applied defensively in case
# the caller (e.g. the driver) built its SparkSession without them:
# nanosAsLong makes the TIMESTAMP(NANOS) events fixture readable, and the
# UTC session timezone keeps timestamp results aligned with the oracle.
REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # The fixture parquet stores timestamp[us] with isAdjustedToUTC=false;
    # Spark 4.1 infers TIMESTAMP_NTZ for those, which unix_millis/
    # session_window reject. Read them as TIMESTAMP (UTC session tz makes
    # the values identical); load_table also casts defensively (to the
    # explicit "timestamp_ltz" type) in case these confs are locked by
    # the caller — a caller session with timestampType=TIMESTAMP_NTZ
    # makes a bare cast("timestamp") no-op (the round-3 driver failure).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.timestampType": "TIMESTAMP_LTZ",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — a locked conf is the caller's choice
            pass


def query(name: str, oracle: str | None = None):
    def register(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return wrapped

    return register


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return as_stream_records(load_table(spark, sf_dir, "events"))


def dsum(col: F.Column | str, alias: str) -> F.Column:
    """Exact decimal sum surfaced as DOUBLE (cross-engine stable).

    Integer fast path (same contract as ``stats.grouped_moment_stats_cents``):
    every column this engine dsum-aggregates is an exact 2-decimal
    money/quantity value (fixture-verified: lineitem money columns,
    o_totalprice, acctbals, events.value — all |v| < 10^6 with
    2-decimal scale), so each row scales to BIGINT cents exactly
    (|v·100 − round| ≤ |cents|·2^-52 ≪ 0.5), the per-row hot loop is a
    long add instead of an ANSI-checked decimal add, and ONE decimal
    division per GROUP recombines: Σcents/100 at scale 6 is exact for
    scale-2 rationals, so the final double is the correctly-rounded
    value of the exact sum — bit-identical to the decimal-sum oracle.
    Σcents stays within bigint to ~10^10 rows per group at these
    magnitudes; past that use the decimal form (ANSI overflow errors
    loudly, never silently wrong)."""
    c = F.col(col) if isinstance(col, str) else col
    cents = F.round(c.cast("double") * 100).cast("bigint")
    return (F.sum(cents).cast("decimal(38,0)") / 100).cast("double").alias(alias)


DSUM_SQL = "CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"

# Revenue = price * (1 - discount), summed exactly; the sum is rounded to
# scale 6 (exact for <=6-decimal inputs) before the double cast so the
# scaled integer stays within 2^53, where Spark's and DuckDB's
# decimal->double conversions agree bit-for-bit.
_REV_DEC = (
    "CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1.0 - l_discount AS DECIMAL(18,6))"
)
REV_SUM_SQL = f"CAST(CAST(SUM({_REV_DEC}) AS DECIMAL(38,6)) AS DOUBLE)"
REV_SUM_L_SQL = REV_SUM_SQL.replace("l_extendedprice", "l.l_extendedprice").replace(
    "l_discount", "l.l_discount"
)


def _rev_col() -> F.Column:
    return (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,6)")
    )


def rev_sum(alias: str) -> F.Column:
    """Σ price·(1−discount) surfaced as DOUBLE, bit-identical to the
    decimal-product oracle, with an integer-only per-row hot loop.

    Both factors are exact 2-decimal rationals (price < 10^6 →
    price_cents < 10^8; 0 ≤ 1−discount ≤ 1 → disc_cents ≤ 100), so the
    per-row product of cents is an exact bigint < 10^10 — the same
    value as the oracle's decimal(18,6)×decimal(18,6) product scaled
    by 10^4. Product sums would overflow bigint at extreme row counts,
    so each product splits hi = p >> 28, lo = p % 2^28 (p ≥ 0; Σlo
    stays in bigint to ~3·10^10 rows per group, Σhi far beyond) and
    the halves recombine EXACTLY in decimal on the grouped rows only;
    the scale-6 division by 10^4 is exact for these scale-4 rationals,
    so the double conversion is the correctly-rounded exact sum —
    identical to CAST(CAST(SUM(dec×dec) AS DECIMAL(38,6)) AS DOUBLE)."""
    pc = F.round(F.col("l_extendedprice").cast("double") * 100).cast("bigint")
    dc = F.round((F.lit(1.0) - F.col("l_discount")).cast("double") * 100).cast("bigint")
    p = pc * dc
    total = F.sum(F.shiftright(p, 28)).cast("decimal(28,0)") * (1 << 28) + F.sum(
        p % F.lit(1 << 28)
    ).cast("decimal(38,0)")
    return (total / 10000).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# Stream-loader surface: recovery aggregations, projections, watermark,
# idempotence keys (SURVEY §2.1, §2.2, §2.4, §2.5)
# ---------------------------------------------------------------------------


@query(
    "a1_committed_positions",
    f"""{_KAFKA_CTE},
    meta AS (SELECT topic AS _topic, "partition" AS _partition, "offset" AS _offset, ts AS _watermark FROM kafka)
    SELECT _topic AS topic, _partition AS "partition",
           MAX(_offset) + 1 AS next_offset, MAX(_watermark) AS watermark
    FROM meta WHERE _topic IS NOT NULL AND _partition IS NOT NULL
    GROUP BY 1, 2""",
)
def a1_committed_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: in-row offset recovery (ClickHouseFileStorage.scala:38-47)."""
    meta = with_metadata_projection(_events(spark, sf_dir), "props")
    return committed_positions(meta)


@query(
    "a3_external_offsets",
    f"""{_KAFKA_CTE},
    files AS (
      SELECT topic, "partition", CAST(FLOOR("offset" / 500.0) AS BIGINT) AS file_id,
             MIN("offset") AS _start_offset, MAX("offset") AS _end_offset, MAX(ts) AS _end_watermark
      FROM kafka GROUP BY 1, 2, 3),
    offs AS (
      SELECT CASE WHEN "partition" % 2 = 0 THEN 'cg-even' ELSE 'cg-odd' END AS _consumer_group,
             topic AS _topic, "partition" AS _partition, _end_offset, _end_watermark
      FROM files)
    SELECT _topic AS topic, _partition AS "partition",
           MAX(_end_offset) + 1 AS next_offset, MAX(_end_watermark) AS watermark
    FROM offs WHERE _consumer_group = 'cg-even'
    GROUP BY 1, 2""",
)
def a3_external_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: recovery from an external offsets table
    (ExternalOffsetVerticaFileStorage.scala:62-66); the offsets table is
    synthesized from the stream by 500-offset file blocks."""
    rec = _events(spark, sf_dir)
    files = (
        rec.withColumn("file_id", F.floor(F.col("offset") / 500.0).cast("long"))
        .groupBy("topic", "partition", "file_id")
        .agg(
            F.min("offset").alias("_start_offset"),
            F.max("offset").alias("_end_offset"),
            F.max("ts").alias("_end_watermark"),
        )
    )
    offs = files.select(
        F.when(F.col("partition") % 2 == 0, "cg-even").otherwise("cg-odd").alias("_consumer_group"),
        F.col("topic").alias("_topic"),
        F.col("partition").alias("_partition"),
        "_end_offset",
        "_end_watermark",
    )
    return committed_positions_external(offs, "cg-even")


# the fixtures' code-version token: bump it when the written shape of a
# sink fixture changes
_FIXTURE_VERSION = 3
_FIXTURE_TREE = "sink_fixtures_v"


def _sink_fixture_dir(sf_dir: str, name: str) -> str:
    """Deterministic, version-stamped scratch dir for sink read-path
    queries: the committed fixture is a pure function of the events
    table, so reusing it across calls is safe and makes repeat runs
    read-only. The path embeds (a) the code-version token
    ``_FIXTURE_VERSION`` and (b) a fingerprint of the source
    parquet (size + NANOSECOND mtime: second-resolution stamps let a
    same-second regeneration silently reuse a stale fixture), so a
    regenerated events table can never be compared against a fixture
    committed from its previous contents. Lives under the repo's
    (gitignored) spark-warehouse scratch dir — the one place this
    engine writes outside explicit sink paths."""
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    fp = f"{st.st_size}-{st.st_mtime_ns}"
    sf = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
        f"{_FIXTURE_TREE}{_FIXTURE_VERSION}",
        f"{sf}-{fp}",
        name,
    )


_FIXTURE_DONE = ".fixture_complete"

# set when this process built a fixture rather than found it complete:
# bench.py reports ``fixture_reused`` from it
FIXTURE_BUILT = False


def _prune_superseded_fixtures(final_dir: str) -> None:
    """Delete the fixture trees of older code-version tokens next to
    ``final_dir``'s tree, when that tree is the current token's: no
    current code reads them, and each token bump would otherwise leave
    the earlier fixtures behind for good. Other fingerprints under the
    current token stay, since concurrent runs may read them."""
    tree = os.path.dirname(os.path.dirname(final_dir))
    if os.path.basename(tree) != f"{_FIXTURE_TREE}{_FIXTURE_VERSION}":
        return
    root = os.path.dirname(tree)
    for name in os.listdir(root):
        m = re.fullmatch(rf"{_FIXTURE_TREE}(\d+)", name)
        if m and int(m.group(1)) < _FIXTURE_VERSION:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def _build_fixture(final_dir: str, build: Callable[[], None]) -> None:
    """Build-once guard for the sink fixtures. Two hazards this closes
    (both real with concurrent bench/test processes on one sf_dir):

    * **racing builders** — a pid-stamped ``O_CREAT|O_EXCL`` lock file
      serializes builds, so one process can't overwrite batch data or
      strip a _SUCCESS marker mid-read of another;
    * **torn fixtures** — a completion marker (written via the sinks'
      own atomic rename) is the ONLY signal the fixture is usable. A
      crash mid-build leaves no marker; the next caller re-runs the
      (idempotent) build under the lock instead of reading a half-
      committed state. Once the marker exists every call is read-only.

    A lock older than 10 minutes is treated as a crashed holder and
    stolen; waiting builders poll for the marker so they return as soon
    as the winner finishes."""
    import time as _time

    global FIXTURE_BUILT
    from stream_loader_spark.sinks.manifest import atomic_write_json

    done = os.path.join(final_dir, _FIXTURE_DONE)
    if os.path.exists(done):
        return
    os.makedirs(os.path.dirname(final_dir), exist_ok=True)
    lock = final_dir + ".lock"
    deadline = _time.time() + 600.0
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            break
        except FileExistsError:
            if os.path.exists(done):
                return  # the winner finished while we waited
            try:
                if _time.time() - os.stat(lock).st_mtime > 600.0:
                    os.unlink(lock)  # stale lock from a crashed holder
                    continue
            except FileNotFoundError:
                continue  # holder just released; retry acquire
            if _time.time() > deadline:
                raise TimeoutError(f"sink fixture lock held too long: {lock}")
            _time.sleep(0.2)
    try:
        if not os.path.exists(done):
            build()
            atomic_write_json(final_dir, {"complete": True}, _FIXTURE_DONE)
            FIXTURE_BUILT = True
            _prune_superseded_fixtures(final_dir)
    finally:
        os.unlink(lock)


def _sliced_stream(spark: SparkSession, sf_dir: str):
    """The events stream split into 4 deterministic offset-block slices
    (FLOOR(offset/500) mod 4) — slices 0-2 get committed, slice 3 plays
    the in-flight/crashed batch that recovery must exclude."""
    rec = _events(spark, sf_dir).where(
        F.col("topic").isNotNull() & F.col("partition").isNotNull()
    )
    return rec, F.pmod(F.floor(F.col("offset") / 500.0).cast("long"), F.lit(4))


# committed slices (0-2) of the 4-way offset-block split; slice 3 is the
# uncommitted tail both sink queries must prove invisible
_COMMITTED_SLICE_SQL = "MOD(CAST(FLOOR(\"offset\" / 500.0) AS BIGINT), 4) != 3"


@query(
    "k2_manifest_positions",
    f"""{_KAFKA_CTE}
    SELECT topic, "partition", MAX("offset") + 1 AS next_offset
    FROM kafka
    WHERE topic IS NOT NULL AND "partition" IS NOT NULL
      AND {_COMMITTED_SLICE_SQL}
    GROUP BY 1, 2""",
)
def k2_manifest_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 read path end-to-end: commit three batches through the
    two-phase manifest sink, write a fourth batch's DATA with no
    manifest (the crash-between-data-and-manifest state), then recover
    positions via the sink's own manifest scan — the oracle proves the
    uncommitted data stayed invisible. Watermarks are compared by the
    a1 query (full precision); here the manifest's ms-truncated stamp
    is omitted rather than re-deriving DuckDB's float rounding.
    Reference: S3FileStorage/two-phase commit
    (core/batch/storage/TwoPhaseCommitBatchStorage.scala:31-75)."""
    from stream_loader_spark.sinks.manifest import ManifestFileSink

    rec, slice_col = _sliced_stream(spark, sf_dir)
    fdir = _sink_fixture_dir(sf_dir, "k2_manifest")
    sink = ManifestFileSink(fdir)

    def build() -> None:
        for b in range(3):
            if not sink.is_batch_committed(b):
                sink.write_batch(rec.where(slice_col == b), b)
        # the crashed tail: data written, manifest never stamped
        rec.where(slice_col == 3).write.mode("overwrite").parquet(
            sink.batch_data_dir(3)
        )

    _build_fixture(fdir, build)
    rows = [
        (topic, partition, int(pos.offset))
        for (topic, partition), pos in sorted(sink.committed_positions().items())
    ]
    return spark.createDataFrame(
        rows, "topic string, partition int, next_offset bigint"
    )


@query(
    "k8_inrow_positions",
    f"""{_KAFKA_CTE}
    SELECT topic, "partition", MAX("offset") + 1 AS next_offset, MAX(ts) AS watermark
    FROM kafka
    WHERE topic IS NOT NULL AND "partition" IS NOT NULL
      AND {_COMMITTED_SLICE_SQL}
    GROUP BY 1, 2""",
)
def k8_inrow_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 read path end-to-end: commit three batches through the in-row
    offsets sink, leave a fourth batch's files WITHOUT the _SUCCESS
    marker (crashed partial write), then recover via the sink's own
    A1 aggregation over its committed data — Kafka-free restart
    (reference InDataOffsetBatchStorage.scala:21-22,
    ClickHouseFileStorage.scala:38-47)."""
    from stream_loader_spark.sinks.offsets import InRowOffsetsSink

    rec, slice_col = _sliced_stream(spark, sf_dir)
    fdir = _sink_fixture_dir(sf_dir, "k8_inrow")
    sink = InRowOffsetsSink(fdir)

    def build() -> None:
        for b in range(3):
            sink(rec.where(slice_col == b), b)  # idempotent: skips committed
        pdir = sink._batch_dir(3)
        rec.where(slice_col == 3).write.mode("overwrite").parquet(pdir)
        # strip the commit marker BEFORE the fixture is stamped
        # complete: a crash between the write and this removal leaves
        # no completion marker, so the next call rebuilds (the
        # overwrite recreates then re-strips _SUCCESS) — the "crashed"
        # batch can never be observed looking committed
        marker = os.path.join(pdir, "_SUCCESS")
        if os.path.exists(marker):
            os.remove(marker)  # simulate the crash before commit

    _build_fixture(fdir, build)
    return sink.committed_positions(spark)


@query(
    "k11_upsert_state",
    f"""{_KAFKA_CTE},
    t AS (SELECT topic, "partition", "offset", value
          FROM kafka WHERE topic IS NOT NULL AND "partition" IS NOT NULL),
    m AS (SELECT MAX("offset") + 1 AS hi FROM t),
    c AS (SELECT t.* FROM t CROSS JOIN m WHERE ("offset" * 4) // hi < 3),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY topic, "partition"
                                       ORDER BY "offset" DESC) AS rn
          FROM c)
    SELECT topic, "partition", "offset" AS last_offset, value AS last_value
    FROM r WHERE rn = 1""",
)
def k11_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC keep-latest read path end-to-end: commit three upsert
    batches through the bucketed UpsertSink (every batch REPLACES its
    keys' rows — keep-latest semantics live in the sink, not this
    query), then write a fourth batch's bucket-version DATA with no
    log record (the crash-between-data-and-commit state) and
    recover via the sink's own ``current_state`` log read — the
    oracle proves the crashed tail stayed invisible. Batches are
    MONOTONE offset quartiles (integer division, exact in both
    engines), so sink keep-latest == keep-latest-by-offset and the
    oracle is plain SQL. Same two-phase-commit shape as k2/k8
    (reference core/batch/storage/TwoPhaseCommitBatchStorage.scala:31-75),
    exercised on the upsert/CDC sink instead of the append sinks."""
    sink = _k11_sink(spark, sf_dir)
    return sink.current_state(spark).select(
        "topic",
        "partition",
        F.col("offset").alias("last_offset"),
        F.col("value").alias("last_value"),
    )


def _k11_sink(spark: SparkSession, sf_dir: str):
    """The k11 committed-upsert fixture, built on demand (shared by the
    time-travel and change-feed read-path queries)."""
    from stream_loader_spark.sinks.upsert import UpsertSink

    rec = _events(spark, sf_dir).where(
        F.col("topic").isNotNull() & F.col("partition").isNotNull()
    )
    fdir = _sink_fixture_dir(sf_dir, "k11_upsert")
    sink = UpsertSink(fdir, key_cols=["topic", "partition"], order_col="offset")

    def build() -> None:
        hi = int(rec.agg(F.max("offset")).first()[0]) + 1
        slice_col = F.expr(f"CAST((offset * 4) DIV {hi} AS INT)")
        for b in range(3):
            sink.write_batch(rec.where(slice_col == b), b)
        tail = rec.where(slice_col == 3).withColumn("_bucket", sink._bucket_col())
        tail.write.partitionBy("_bucket").mode("overwrite").parquet(
            os.path.join(fdir, "versions", "v=3")
        )

    _build_fixture(fdir, build)
    return sink


@query(
    "k12_upsert_time_travel",
    f"""{_KAFKA_CTE},
    t AS (SELECT topic, "partition", "offset", value
          FROM kafka WHERE topic IS NOT NULL AND "partition" IS NOT NULL),
    m AS (SELECT MAX("offset") + 1 AS hi FROM t),
    c AS (SELECT t.* FROM t CROSS JOIN m WHERE ("offset" * 4) // hi < 2),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY topic, "partition"
                                       ORDER BY "offset" DESC) AS rn
          FROM c)
    SELECT topic, "partition", "offset" AS last_offset, value AS last_value
    FROM r WHERE rn = 1""",
)
def k12_upsert_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert time travel: ``current_state(as_of_batch=1)`` folds the
    commit log's records up to batch 1 — the state as of the
    SECOND committed batch, with batch 2's writes and the crashed tail
    both invisible. Keep-latest over the first two offset quartiles is
    the exact SQL equivalent (see k11 for why quartile slicing makes
    sink semantics reduce to keep-latest-by-offset)."""
    sink = _k11_sink(spark, sf_dir)
    return sink.current_state(spark, as_of_batch=1).select(
        "topic",
        "partition",
        F.col("offset").alias("last_offset"),
        F.col("value").alias("last_value"),
    )


@query(
    "k13_upsert_change_feed",
    f"""{_KAFKA_CTE},
    t AS (SELECT topic, "partition", "offset"
          FROM kafka WHERE topic IS NOT NULL AND "partition" IS NOT NULL),
    m AS (SELECT MAX("offset") + 1 AS hi FROM t),
    s AS (SELECT t.*, ("offset" * 4) // hi AS q FROM t CROSS JOIN m),
    n AS (SELECT topic, "partition", "offset",
                 ROW_NUMBER() OVER (PARTITION BY topic, "partition"
                                    ORDER BY "offset" DESC) AS rn
          FROM s WHERE q = 1),
    new AS (SELECT topic, "partition", "offset" AS last_offset FROM n WHERE rn = 1),
    o AS (SELECT topic, "partition", "offset",
                 ROW_NUMBER() OVER (PARTITION BY topic, "partition"
                                    ORDER BY "offset" DESC) AS rn
          FROM s WHERE q = 0),
    old AS (SELECT topic, "partition", "offset" AS prev_offset FROM o WHERE rn = 1)
    SELECT CASE WHEN prev_offset IS NULL THEN 'insert' ELSE 'update' END AS op,
           topic, "partition", last_offset, prev_offset
    FROM new LEFT JOIN old USING (topic, "partition")""",
)
def k13_upsert_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog read path: ``change_feed(batch_id=1)`` labels every
    key batch 1 wrote as insert (absent before) or update (prior row's
    columns attached as ``_old_*``), reading ONLY the batch's version
    dirs plus the touched buckets' prior versions — delta-sized, never
    a snapshot scan. The SQL equivalent: keep-latest per key within
    quartile 1 (the new row) left-joined to keep-latest within
    quartile 0 (the prior row)."""
    sink = _k11_sink(spark, sf_dir)
    feed = sink.change_feed(spark, batch_id=1)
    return feed.select(
        F.col("_change").alias("op"),
        "topic",
        "partition",
        F.col("offset").alias("last_offset"),
        F.col("_old_offset").alias("prev_offset"),
    )


@query(
    "a4_stream_ranges",
    f"""{_KAFKA_CTE}
    SELECT topic, "partition",
           MIN("offset") AS start_offset, MAX("offset") AS end_offset,
           MAX(ts) AS end_watermark, COUNT(*) AS record_count
    FROM kafka GROUP BY 1, 2""",
)
def a4_stream_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-partition consumed-range aggregation (StreamRange.scala:61-81)."""
    return stream_ranges(_events(spark, sf_dir))


@query(
    "a5_merged_ranges",
    f"""{_KAFKA_CTE},
    ranges AS (
      SELECT topic, "partition", CAST(FLOOR("offset" / 500.0) AS BIGINT) AS file_id,
             MIN("offset") AS start_offset, MAX("offset") AS end_offset, MAX(ts) AS end_watermark
      FROM kafka GROUP BY 1, 2, 3)
    SELECT topic, "partition",
           MIN(start_offset) AS start_offset, MAX(end_offset) AS end_offset,
           MAX(end_watermark) AS end_watermark
    FROM ranges GROUP BY 1, 2""",
)
def a5_merged_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: merge consecutive ranges — earliest start, latest end
    (StreamRange.scala:26-51) over block-level ranges."""
    rec = _events(spark, sf_dir)
    ranges = (
        rec.withColumn("file_id", F.floor(F.col("offset") / 500.0).cast("long"))
        .groupBy("topic", "partition", "file_id")
        .agg(
            F.min("offset").alias("start_offset"),
            F.max("offset").alias("end_offset"),
            F.max("ts").alias("end_watermark"),
        )
    )
    return merge_range_table(ranges)


@query(
    "s5_watermark_clamp",
    f"""{_KAFKA_CTE}
    SELECT topic, "partition", MAX(ts) AS watermark
    FROM kafka
    WHERE ts <= TIMESTAMP '2024-01-15 00:00:00' + INTERVAL 1 HOUR
    GROUP BY 1, 2""",
)
def s5_watermark_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: max-event-time watermark with future-timestamp clamp
    (WatermarkProvider.scala:50-77, 1h valid diff)."""
    return clamped_watermark_agg(_events(spark, sf_dir), CLAMP_NOW)


@query(
    "p3_metadata_projection",
    f"""{_KAFKA_CTE}
    SELECT topic AS _topic, "partition" AS _partition, "offset" AS _offset,
           ts AS _watermark, props
    FROM kafka""",
)
def p3_metadata_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: expose stream metadata as output columns (loaders/ClickHouse.scala:77-97)."""
    return with_metadata_projection(_events(spark, sf_dir), "props")


@query(
    "p4_date_partitioning",
    f"""{_KAFKA_CTE}
    SELECT topic, CAST(ts AS DATE) AS dt, COUNT(*) AS record_count,
           MIN("offset") AS min_offset, MAX("offset") AS max_offset
    FROM kafka GROUP BY 1, 2""",
)
def p4_date_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: event-date output partitioning (RecordPartitioner.scala:19-29 →
    to_date + partitionBy)."""
    rec = with_date_partition(_events(spark, sf_dir))
    return rec.groupBy("topic", "dt").agg(
        F.count(F.lit(1)).alias("record_count"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
    )


@query(
    "p1_record_formatting",
    f"""{_KAFKA_CTE}
    SELECT "offset" AS _offset, TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM kafka""",
)
def p1_record_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: raw payload → typed columns (RecordFormatter.scala:18-24 →
    from_json projection; unparseable payloads yield NULLs)."""
    rec = formatted_records(_events(spark, sf_dir), "k INT")
    return rec.select(F.col("offset").alias("_offset"), F.col("k"))


@query(
    "d2_dedup_tokens",
    f"""{_KAFKA_CTE},
    ranges AS (
      SELECT topic, "partition", MIN("offset") AS so, MAX("offset") AS eo
      FROM kafka GROUP BY 1, 2),
    tokens AS (
      SELECT topic, "partition",
             topic || ':' || "partition" || ':' || so || ':' || eo AS range_token
      FROM ranges),
    batch AS (SELECT STRING_AGG(range_token, ';' ORDER BY range_token) AS batch_token FROM tokens)
    SELECT t.topic, t."partition", t.range_token, b.batch_token
    FROM tokens t CROSS JOIN batch b""",
)
def d2_dedup_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: insert dedup tokens (ClickHouseFileStorage.scala:86-88)."""
    return dedup_tokens(_events(spark, sf_dir))


@query(
    "d3_file_names",
    f"""{_KAFKA_CTE},
    dated AS (SELECT topic, "partition", "offset", CAST(ts AS DATE) AS dt FROM kafka),
    ranges AS (
      SELECT topic, "partition", dt, MIN("offset") AS so, MAX("offset") AS eo
      FROM dated GROUP BY 1, 2, 3),
    tokens AS (
      SELECT topic, "partition", dt,
             CAST(dt AS VARCHAR) || '/' || topic || ':' || "partition" || ':' || so || ':' || eo AS range_token
      FROM ranges)
    SELECT topic, "partition", dt, range_token, sha256(range_token) || '.parquet' AS file_name
    FROM tokens""",
)
def d3_file_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: deterministic batch file names (TimePartitioningFilePathFormatter.scala:39-47)."""
    rec = with_date_partition(_events(spark, sf_dir))
    return deterministic_file_names(rec, partition_value_col="dt")


@query(
    "d1_rewind_dedup",
    f"""{_KAFKA_CTE},
    unioned AS (
      SELECT topic, "partition", "offset" FROM kafka
      UNION ALL
      SELECT topic, "partition", "offset" FROM kafka WHERE "offset" < 200),
    dedup AS (SELECT DISTINCT topic, "partition", "offset" FROM unioned)
    SELECT topic, "partition", COUNT(*) AS record_count,
           MIN("offset") AS min_offset, MAX("offset") AS max_offset
    FROM dedup GROUP BY 1, 2""",
)
def d1_rewind_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: rewind warm-up dedup — replayed records (a rewound prefix) are
    dropped by key so the output equals exactly-once delivery
    (RewindingPartitionGroupSinker.scala:45-118)."""
    rec = _events(spark, sf_dir).select("topic", "partition", "offset")
    replayed = rec.where(F.col("offset") < 200)
    unioned = rec.unionAll(replayed)
    dedup = unioned.dropDuplicates(["topic", "partition", "offset"])
    return dedup.groupBy("topic", "partition").agg(
        F.count(F.lit(1)).alias("record_count"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
    )


@query(
    "events_hourly_rollup",
    f"""{_KAFKA_CTE}
    SELECT topic, DATE_TRUNC('hour', ts) AS window_start,
           COUNT(*) AS event_count, {DSUM_SQL.format(expr="value")} AS value_sum
    FROM kafka GROUP BY 1, 2""",
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time rollup — the batch shape of the streaming
    windowed aggregation (withWatermark + window)."""
    rec = _events(spark, sf_dir)
    return rec.groupBy("topic", F.date_trunc("hour", "ts").alias("window_start")).agg(
        F.count(F.lit(1)).alias("event_count"),
        dsum("value", "value_sum"),
    )


# ---------------------------------------------------------------------------
# Relational surface over the TPC-H-ish tables (joins, windows, top-k —
# all free in Spark SQL; SURVEY §2.9)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    f"""SELECT l_returnflag, l_linestatus,
           {DSUM_SQL.format(expr="l_quantity")} AS sum_qty,
           {DSUM_SQL.format(expr="l_extendedprice")} AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1.0 - l_discount AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (exact decimal sums)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit(datetime(1998, 9, 2)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            rev_sum("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    """SELECT l.l_orderkey,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6)) * CAST(1.0 - l.l_discount AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped top-10 unshipped orders by revenue. The dimension
    filters (customer) broadcast; ties break on the unique order key."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit(datetime(1997, 1, 1))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit(datetime(1997, 1, 1))
    )
    joined = li.join(
        o.join(c, o.o_custkey == c.c_custkey),
        li.l_orderkey == o.o_orderkey,
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev_sum("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    """SELECT n.n_name,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6)) * CAST(1.0 - l.l_discount AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'EUROPE'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multi-join aggregation; every dimension side is
    broadcast so lineitem never shuffles before the final group-by."""
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1998, 1, 1)))
    )
    li = load_table(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               c.c_nationkey == n.n_nationkey)
    )
    co = o.join(dims, o.o_custkey == c.c_custkey)
    j = li.join(co, li.l_orderkey == o.o_orderkey).join(
        s,
        (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
    )
    return j.groupBy("n_name").agg(rev_sum("revenue"))


@query(
    "top_orders_per_segment",
    """WITH ranked AS (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rnk
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
    SELECT c_mktsegment, o_orderkey, o_totalprice, rnk
    FROM ranked WHERE rnk <= 3""",
)
def top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function top-k per group (ROW_NUMBER with unique tie-break)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = o.join(c, o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rnk")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators: text analysis, dedup, similarity
# (beyond-reference surface, BASELINE.json north star)
# ---------------------------------------------------------------------------

_STOP_EN = "'the','a','and','of','to','in','is','it'"
_STOP_DE = "'der','die','das','und','ist','ein','zu','nicht'"
_STOP_FR = "'le','la','et','les','des','est','un','une'"
_STOP_ES = "'el','la','los','las','es','un','una','y'"

_TOKENS_SQL = "list_filter(string_split_regex(text, '\\s+'), x -> x != '')"


@query(
    "text_stats",
    f"""WITH t AS (
      SELECT doc_id, text,
             {_TOKENS_SQL} AS toks
      FROM documents),
    m AS (
      SELECT doc_id,
             len(toks) AS token_count,
             length(text) AS char_count,
             len(string_split_regex(text, '[.,!?;:]')) - 1 AS punct_count,
             len(list_filter(toks, t -> list_contains([{_STOP_EN}], t))) AS stop_hits
      FROM t),
    s AS (
      SELECT doc_id, token_count, char_count, punct_count,
             CASE WHEN token_count > 0 THEN CAST(char_count - token_count + 1 AS DOUBLE) / token_count ELSE 0.0 END AS avg_token_len,
             CASE WHEN token_count > 0 THEN CAST(stop_hits AS DOUBLE) / token_count ELSE 0.0 END AS stopword_ratio,
             CASE WHEN char_count > 0 THEN CAST(punct_count AS DOUBLE) / char_count ELSE 0.0 END AS punct_ratio
      FROM m)
    SELECT doc_id, token_count, char_count, punct_count, avg_token_len, stopword_ratio, punct_ratio,
           LEAST(token_count / 100.0, 1.0) * 0.4
           + LEAST(stopword_ratio * 5.0, 1.0) * 0.3
           + CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 0.3 ELSE 0.0 END AS quality_score
    FROM s""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring over documents (pure codegen)."""
    docs = load_table(spark, sf_dir, "documents")
    return with_text_stats(docs).select(
        "doc_id",
        "token_count",
        "char_count",
        "punct_count",
        "avg_token_len",
        "stopword_ratio",
        "punct_ratio",
        "quality_score",
    )


@query(
    "lang_id",
    f"""WITH t AS (
      SELECT doc_id, lang,
             {_TOKENS_SQL} AS toks
      FROM documents),
    h AS (
      SELECT doc_id, lang,
             len(list_filter(toks, t -> list_contains([{_STOP_DE}], t))) AS hits_de,
             len(list_filter(toks, t -> list_contains([{_STOP_EN}], t))) AS hits_en,
             len(list_filter(toks, t -> list_contains([{_STOP_ES}], t))) AS hits_es,
             len(list_filter(toks, t -> list_contains([{_STOP_FR}], t))) AS hits_fr
      FROM t)
    SELECT doc_id, lang,
           CASE WHEN GREATEST(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                WHEN hits_de = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                WHEN hits_en = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                WHEN hits_es = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM h""",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword-based language ID."""
    docs = load_table(spark, sf_dir, "documents")
    return with_lang_id(docs).select("doc_id", "lang", "pred_lang")


@query(
    "doc_fingerprint",
    """SELECT doc_id,
           sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable content fingerprint (normalized sha256)."""
    docs = load_table(spark, sf_dir, "documents")
    return with_fingerprint(docs).select("doc_id", "fingerprint")


@query(
    "repetition_stats",
    """WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token
      FROM documents WHERE len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) > 0),
    pt AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS token_count,
           COUNT(*) AS distinct_tokens,
           COUNT(*) / CAST(SUM(cnt) AS BIGINT) AS type_token_ratio,
           CAST(MAX(cnt) AS BIGINT) / CAST(SUM(cnt) AS BIGINT) AS top_token_share
    FROM pt GROUP BY doc_id""",
)
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/boilerplate detection: type-token ratio + top-token
    share per document (explode → two hash-aggregates)."""
    from stream_loader_spark.operators.text import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs)


@query(
    "deterministic_sample",
    """SELECT doc_id, lang,
           (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
           AS sample_bucket
    FROM documents
    WHERE (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 51""",
)
def deterministic_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucket ~20% sample (51/256): reproducible across reruns,
    engines, and partitionings — the honest way to carve eval subsets
    out of a large corpus. No shuffle; the filter rides the scan."""
    from stream_loader_spark.operators.sampling import deterministic_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return deterministic_sample(docs, keep_buckets=51)


_MD5_BUCKET_SQL = (
    "(strpos('0123456789abcdef', substr(md5({e}), 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5({e}), 2, 1)) - 1)"
)


@query(
    "domain_rebalance",
    f"""WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY 1),
    m AS (SELECT MIN(cnt) AS min_cnt FROM c),
    t AS (SELECT source,
                 CAST(GREATEST(1, FLOOR(256.0 * min_cnt / cnt)) AS INT) AS keep_thr
          FROM c CROSS JOIN m),
    b AS (SELECT doc_id, source,
                 {_MD5_BUCKET_SQL.format(e="CAST(doc_id AS VARCHAR)")} AS sample_bucket
          FROM documents)
    SELECT b.doc_id, b.source, b.sample_bucket, t.keep_thr
    FROM b JOIN t USING (source) WHERE b.sample_bucket < t.keep_thr""",
)
def domain_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data mixing: every source downsampled to ≈ the
    smallest source's count by integer hash-bucket threshold. The
    per-source counts are broadcast back; the only full-data work is
    the bucket filter riding the scan."""
    from stream_loader_spark.operators.sampling import rebalance_domains

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = rebalance_domains(docs)
    return out.select("doc_id", "source", "sample_bucket", "keep_thr")


@query(
    "domain_oversample",
    f"""WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY 1),
    m AS (SELECT MAX(cnt) AS mx FROM c),
    t AS (SELECT source,
                 CAST(FLOOR(1.0 * mx / cnt) AS BIGINT) AS base_copies,
                 CAST(FLOOR(256.0 * (1.0 * mx / cnt - FLOOR(1.0 * mx / cnt))) AS INT)
                   AS extra_thr
          FROM c CROSS JOIN m),
    b AS (SELECT doc_id, source,
                 {_MD5_BUCKET_SQL.format(e="CAST(doc_id AS VARCHAR)")} AS bkt
          FROM documents),
    r AS (SELECT b.doc_id, b.source,
                 t.base_copies + CASE WHEN b.bkt < t.extra_thr THEN 1 ELSE 0 END
                   AS copies
          FROM b JOIN t USING (source))
    SELECT doc_id, source, unnest(range(copies)) AS copy_index
    FROM r WHERE copies > 0""",
)
def domain_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic up-sampling to the largest source's count:
    integer replication plus an md5-bucket fractional remainder —
    data mixing's up-weighting half (rebalance is the capping half)."""
    from stream_loader_spark.operators.sampling import oversample_domains

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return oversample_domains(docs)


@query(
    "epoch_shuffle_order",
    f"""WITH k AS (
      SELECT doc_id,
             md5('ep1' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
             {_MD5_BUCKET_SQL.format(e="'ep1' || CAST(doc_id AS VARCHAR)")} AS shard
      FROM documents)
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                   ORDER BY shuffle_key, doc_id) AS INT)
             AS pos_in_shard
    FROM k""",
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: global training order is
    (shard, pos_in_shard), a pure function of the seed. 256 windows
    rank in parallel — no single-partition sort at any scale."""
    from stream_loader_spark.operators.sampling import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(docs, seed="ep1").select("doc_id", "shard", "pos_in_shard")


@query(
    "pack_sequences_spans",
    f"""WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS n_tokens,
             md5('ep1' || CAST(doc_id AS VARCHAR)) AS k,
             {_MD5_BUCKET_SQL.format(e="'ep1' || CAST(doc_id AS VARCHAR)")} AS shard
      FROM documents),
    s AS (
      SELECT doc_id, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
      FROM t)
    SELECT doc_id, shard, n_tokens, CAST(start_tok AS BIGINT) AS start_tok,
           CAST(FLOOR(start_tok / 512.0) AS BIGINT) AS first_seq,
           CAST(FLOOR(GREATEST(start_tok, start_tok + n_tokens - 1) / 512.0) AS BIGINT)
             AS last_seq
    FROM s""",
)
def pack_sequences_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk packing as a metadata pass: each
    document's token span and first/last training sequence in the
    epoch's packed stream (context 512). Per-shard window cumsum —
    one exchange, 256 parallel shards, no global coordination."""
    from stream_loader_spark.operators.training import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, seed="ep1", context_len=512)


@query(
    "training_mix_order",
    f"""WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY 1),
    m AS (SELECT MIN(cnt) AS min_cnt FROM c),
    t AS (SELECT source,
                 CAST(GREATEST(1, FLOOR(256.0 * min_cnt / cnt)) AS INT) AS keep_thr
          FROM c CROSS JOIN m),
    kept AS (
      SELECT d.doc_id, d.text FROM documents d JOIN t USING (source)
      WHERE {_MD5_BUCKET_SQL.format(e="CAST(d.doc_id AS VARCHAR)")} < t.keep_thr),
    tok AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS n_tokens,
             md5('mix1' || CAST(doc_id AS VARCHAR)) AS k,
             {_MD5_BUCKET_SQL.format(e="'mix1' || CAST(doc_id AS VARCHAR)")} AS shard
      FROM kept),
    s AS (
      SELECT doc_id, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
      FROM tok)
    SELECT doc_id, shard, n_tokens, CAST(start_tok AS BIGINT) AS start_tok,
           CAST(FLOOR(start_tok / 512.0) AS BIGINT) AS first_seq,
           CAST(FLOOR(GREATEST(start_tok, start_tok + n_tokens - 1) / 512.0) AS BIGINT)
             AS last_seq
    FROM s""",
)
def training_mix_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship epoch build: rebalance the domain mix, shuffle with a
    seed, pack into context-512 sequences — one declarative plan whose
    only corpus-sized exchange is the shard cumsum. The oracle composes
    the same three stages in SQL."""
    from stream_loader_spark.operators.training import build_training_order

    docs = load_table(spark, sf_dir, "documents")
    return build_training_order(docs, seed="mix1", context_len=512)


@query(
    "unigram_logprob",
    """WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token
      FROM documents WHERE len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) > 0),
    freq AS MATERIALIZED (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq),
    scored AS (
      SELECT t.doc_id,
             CAST(ROUND(ln(CAST(f.c AS DOUBLE) / n), 6) AS DECIMAL(18,6)) AS lp
      FROM tok t JOIN freq f USING (token) CROSS JOIN tot)
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(CAST(SUM(lp) AS DECIMAL(38,6)) AS DOUBLE) / COUNT(*) AS mean_logprob
    FROM scored GROUP BY doc_id""",
)
def unigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: mean per-token log-likelihood under the
    corpus's own token distribution (per-token logs rounded then summed
    exactly — float-order independent)."""
    from stream_loader_spark.operators.text import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs)


@query(
    "quality_model_scores",
    """WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token
      FROM documents),
    b AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1) AS bucket
      FROM tok),
    g AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM((bucket * 2654435761) % 1001 - 500) AS BIGINT) AS s
      FROM b GROUP BY doc_id)
    SELECT d.doc_id, CAST(COALESCE(g.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(g.s, 0) AS BIGINT) AS logit_milli,
           COALESCE(g.s, 0) > 0 AS keep
    FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id""",
)
def quality_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality classifier (fasttext-filter shape):
    integer milli-weight per md5 token bucket, exact integer logit sum,
    keep = logit > 0 — bit-reproducible on any engine or partitioning."""
    from stream_loader_spark.operators.text import hashed_linear_quality

    docs = load_table(spark, sf_dir, "documents")
    return hashed_linear_quality(docs)


@query(
    "redact_pii",
    """SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9][0-9 ()\\-]{7,}[0-9]')) AS n_phones,
           sha256(regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9][0-9 ()\\-]{7,}[0-9]', '<PHONE>', 'g')) AS redacted_fingerprint
    FROM documents""",
)
def redact_pii_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email/phone-shaped span counts + fingerprint of
    the redacted text (patterns restricted to the regex subset Java and
    RE2 treat identically)."""
    from stream_loader_spark.operators.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    return redact_pii(docs)


@query(
    "dedup_exact",
    """SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
    FROM documents GROUP BY 1""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: representative + multiplicity per digest."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


@query(
    "dedup_keep_best",
    """WITH h AS (
      SELECT sha256(text) AS content_hash, doc_id, n_chars FROM documents),
    r AS (
      SELECT content_hash, doc_id,
             ROW_NUMBER() OVER (PARTITION BY content_hash
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY content_hash) AS dup_count,
             MAX(n_chars) OVER (PARTITION BY content_hash) AS best_quality
      FROM h)
    SELECT content_hash, doc_id AS keep_id, best_quality, dup_count
    FROM r WHERE rn = 1""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the highest-quality duplicate (max n_chars,
    ties → lowest id). Single map-side-combinable hash aggregate via
    max_by over a (quality, -id) struct — the oracle's window form
    would sort every content group; the aggregate form never
    materializes group rows."""
    from stream_loader_spark.operators.dedup import keep_best_dedup

    return keep_best_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "ngram_jaccard_pairs",
    """WITH t AS (
      SELECT doc_id, lang, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
      FROM documents),
    d AS (
      SELECT doc_id, lang,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
             ELSE [array_to_string(toks, ' ')] END AS shingles
      FROM t),
    ex AS MATERIALIZED (
      SELECT doc_id, lang, unnest(shingles) AS shingle, len(shingles) AS nsh FROM d),
    -- count-aggregated exact Jaccard (see _jaccard_pairs_ctes): a
    -- same-lang pair sharing no shingle has jaccard 0 < 0.5, so the
    -- shared-shingle join loses nothing vs the all-pairs lang block
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter,
             ANY_VALUE(a.nsh) AS na, ANY_VALUE(b.nsh) AS nb
      FROM ex a JOIN ex b
        ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(ninter AS DOUBLE) / (na + nb - ninter) AS jaccard
    FROM inter
    WHERE CAST(ninter AS DOUBLE) / (na + nb - ninter) >= 0.5""",
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs, blocked by language."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5, block_col="lang", shingle_size=3)


# --- Generated oracle SQL for the signature/LSH family -------------------
#
# These algorithms are deliberately built from cross-engine primitives
# (md5 nibbles, integer-arithmetic hyperplanes, word shingles) so the
# DuckDB oracle can replicate the ALGORITHM, not merely sample its
# output. Where the Spark side prunes candidates (LSH bands, chunk
# collision), the oracle runs the quadratic equivalent at fixture scale:
# - MinHash verify emits exactly the Jaccard-≥-t pairs, and every
#   fixture pair has Jaccard ≥ 0.88 (LSH miss probability ≤ 1e-7), so
#   the exhaustive shingle-blocked oracle is the ground truth.
# - SimHash chunk collision is LOSSLESS by pigeonhole (Hamming ≤ 3 over
#   4 chunks ⇒ one chunk equal), so the exhaustive signature-pair
#   oracle matches by construction.
# - Sign-LSH bands use the same coefficient formula in both engines, so
#   the oracle reproduces the banded candidate set exactly.


def _jaccard_pairs_ctes(src: str = "documents", threshold: float = 0.5) -> str:
    """CTE chain ending in ``good(doc_a, doc_b, jaccard)`` — word-3-gram
    Jaccard pairs ≥ threshold, candidates blocked on a shared shingle
    (lossless: jaccard > 0 requires a common shingle).

    Jaccard comes from count aggregation over the shingle self-join —
    |A∩B| = COUNT(*) per (doc_a, doc_b), |A∪B| = nsh_a + nsh_b − |A∩B|
    (shingle lists are distinct per doc). Integer inputs to one double
    division, bit-identical to the list_intersect/list_concat form, but
    with NO per-candidate list materialization: the earlier
    DISTINCT-candidates + list-verify form re-touched both full shingle
    lists per candidate pair and took 127 s at sf0.1 where this
    aggregate runs in ~1 s (same 256 rows)."""
    return f"""jt AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks FROM {src}),
    jd AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
             ELSE [array_to_string(toks, ' ')] END AS shingles
      FROM jt),
    jex AS MATERIALIZED (
      SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS nsh FROM jd),
    jinter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter,
             ANY_VALUE(a.nsh) AS na, ANY_VALUE(b.nsh) AS nb
      FROM jex a JOIN jex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    good AS (
      SELECT doc_a, doc_b,
             CAST(ninter AS DOUBLE) / (na + nb - ninter) AS jaccard
      FROM jinter
      WHERE CAST(ninter AS DOUBLE) / (na + nb - ninter) >= {threshold})"""


def _simhash_sig_ctes(src: str = "documents") -> str:
    """CTE chain ending in ``sig(doc_id, simhash)`` — the md5-nibble
    SimHash of operators/dedup.py reproduced in SQL."""
    nibs = ",\n             ".join(
        f"strpos('0123456789abcdef', substr(h, {j + 1}, 1)) - 1 AS n{j}"
        for j in range(16)
    )
    cs = ",\n             ".join(
        f"SUM((n{i // 4} >> {i % 4}) & 1) AS c{i}" for i in range(64)
    )
    terms = "\n             + ".join(
        f"CASE WHEN 2 * c{i} >= n THEN CAST({2**i if i < 63 else -(2**63)} AS HUGEINT) ELSE 0 END"
        for i in range(64)
    )
    return f"""stok AS (
      SELECT doc_id, unnest(list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))) AS token
      FROM {src} WHERE len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) > 0),
    shx AS (SELECT doc_id, md5(token) AS h FROM stok),
    snib AS (SELECT doc_id, {nibs} FROM shx),
    scnt AS (SELECT doc_id, COUNT(*) AS n, {cs} FROM snib GROUP BY doc_id),
    sig AS MATERIALIZED (SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM scnt)"""


_COSINE_SQL = (
    "ROUND(list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    " / (SQRT(list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    " * SQRT(list_sum(list_transform(range(1, len({b}) + 1),"
    " i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))), 6)"
)


def _sign_lsh_ctes(num_planes: int = 8, num_bands: int = 4, dim: int = 64) -> str:
    """CTE chain ending in ``lcand(vec_a, vec_b, ea, eb)`` — banded
    sign-LSH candidates with the SAME md5-derived hyperplane literals
    as operators/similarity.py (one generator, two engines)."""
    from stream_loader_spark.operators.similarity import lsh_plane_coeffs

    coeffs = lsh_plane_coeffs(dim, num_bands * num_planes)

    def dot(p: int) -> str:
        # list_zip so the literal coefficient list is built once per row,
        # not once per ELEMENT (indexing a literal inside the lambda made
        # the oracle ~500x slower)
        lits = "[" + ", ".join(repr(c) for c in coeffs[p]) + "]"
        return (
            f"list_sum(list_transform(list_zip(embedding, {lits}), "
            "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
        )

    band_exprs = ",\n             ".join(
        "("
        + " || ".join(
            f"CASE WHEN ROUND({dot(b * num_planes + j)}, 6) >= 0 THEN '1' ELSE '0' END"
            for j in range(num_planes)
        )
        + f") AS sig{b}"
        for b in range(num_bands)
    )
    any_band = " OR ".join(f"a.sig{b} = b.sig{b}" for b in range(num_bands))
    return f"""le AS (SELECT vec_id, embedding FROM embeddings WHERE len(embedding) = {dim}),
    ls AS MATERIALIZED (SELECT vec_id, embedding,
             {band_exprs}
           FROM le),
    lcand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.embedding AS ea, b.embedding AS eb
      FROM ls a JOIN ls b ON a.vec_id < b.vec_id AND ({any_band}))"""


@query(
    "minhash_lsh_pairs",
    f"""WITH {_jaccard_pairs_ctes()}
    SELECT doc_a, doc_b, jaccard FROM good""",
)
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (banded signatures, exact verify).

    Oracle: exhaustive shingle-blocked Jaccard — every fixture pair sits
    at Jaccard ≥ 0.88 where 16-band/4-row LSH misses with p ≤ 1e-7."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.5)


@query(
    "simhash_pairs",
    f"""WITH {_simhash_sig_ctes()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
)
def simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 via chunk collision).

    Oracle: the same md5-nibble SimHash in SQL, exhaustive pair scan —
    chunk-collision candidate pruning is lossless by pigeonhole, so the
    sets match by construction."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs)


@query(
    "similarity_topk",
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS match_id,
             ROUND(
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
               / (SQRT(list_sum(list_transform(range(1, len(q.qv) + 1),
                        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
                  * SQRT(list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))),
               6) AS cosine
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, match_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rnk
      FROM scored)
    SELECT query_id, match_id, cosine, rnk FROM ranked WHERE rnk <= 5""",
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for query vectors 0..9 (brute force baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, query_ids=list(range(10)), k=5).withColumnRenamed(
        "rank", "rnk"
    )


_IVF_NPROBE = 4

_IVF_ORACLE_SQL = f"""WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 16),
    assigned AS (
      SELECT vec_id, embedding, centroid_id AS cluster_id FROM (
        SELECT c.vec_id, c.embedding, ct.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY {_COSINE_SQL.format(a='c.embedding', b='ct.cv')} DESC, ct.centroid_id) AS arnk
        FROM embeddings c CROSS JOIN cent ct) WHERE arnk = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    qprobe AS (
      SELECT query_id, qv, centroid_id AS cluster_id FROM (
        SELECT q.query_id, q.qv, ct.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY {_COSINE_SQL.format(a='q.qv', b='ct.cv')} DESC, ct.centroid_id) AS prnk
        FROM q CROSS JOIN cent ct) WHERE prnk <= {_IVF_NPROBE}),
    scored AS (
      SELECT p.query_id, a.vec_id AS match_id,
             {_COSINE_SQL.format(a='p.qv', b='a.embedding')} AS cosine
      FROM assigned a JOIN qprobe p ON a.cluster_id = p.cluster_id
      WHERE a.vec_id <> p.query_id),
    ranked AS (
      SELECT query_id, match_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rnk
      FROM scored)
    SELECT query_id, match_id, cosine, rnk FROM ranked WHERE rnk <= 5"""


@query("similarity_ivf_topk", _IVF_ORACLE_SQL)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate cosine top-5 (probe 4 of 16 clusters).

    Oracle: the full IVF algorithm in SQL — deterministic seed
    centroids (vec_id < 16), argmax-cosine assignment, top-nprobe
    cluster probing, ranked scan of probed clusters. The random fixture
    has no cluster structure, so endpoint equality with brute force is
    unattainable at honest nprobe; verifying the algorithm is the
    stronger check anyway (``similarity_topk`` covers exact search)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, query_ids=list(range(10)), k=5, nprobe=_IVF_NPROBE
    ).withColumnRenamed("rank", "rnk")


@query(
    "embedding_near_dup",
    f"""WITH {_sign_lsh_ctes()}
    SELECT vec_a, vec_b, {_COSINE_SQL.format(a='ea', b='eb')} AS cosine
    FROM lcand
    WHERE {_COSINE_SQL.format(a='ea', b='eb')} >= 0.35""",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via banded sign-LSH + exact cosine
    verify. Oracle: the identical integer-arithmetic hyperplanes and
    band membership in SQL (the algorithm, not just the answer)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.35, num_planes=8, num_bands=4, dim=64)


@query(
    "multimodal_features",
    """WITH media AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             text, strlen(text) AS n_bytes
      FROM documents WHERE strlen(text) = length(text)),
    chars AS (
      SELECT media_id, text,
             unnest(range(1, CAST(strlen(text) AS BIGINT) + 1)) AS j
      FROM media),
    bcounts AS (
      SELECT media_id,
             ascii(substr(text, CAST(j AS BIGINT), 1)) * 16 // 256 AS bucket,
             COUNT(*) AS c
      FROM chars GROUP BY 1, 2),
    grid AS (
      SELECT m.media_id, b.bucket, COALESCE(bc.c, 0) AS c, m.n_bytes AS total
      FROM media m
      CROSS JOIN (SELECT unnest(range(0, 16)) AS bucket) b
      LEFT JOIN bcounts bc ON bc.media_id = m.media_id AND bc.bucket = b.bucket),
    shares AS (
      SELECT media_id, bucket,
             CASE WHEN total = 0 THEN 0.0
                  ELSE c / CAST(total AS DOUBLE) END AS share
      FROM grid),
    agg AS (
      SELECT media_id,
             MAX(share) AS top_share,
             CAST(round(-SUM(CASE WHEN share > 0 THEN share * log2(share)
                                  ELSE 0 END) * 10000) AS BIGINT) AS entropy_q,
             sha256(string_agg(printf('%.6f', share), ',' ORDER BY bucket))
               AS feature_digest
      FROM shares GROUP BY 1),
    amax AS (
      SELECT s.media_id, CAST(MIN(s.bucket) AS INT) AS argmax_bucket
      FROM shares s JOIN agg a
        ON a.media_id = s.media_id AND s.share = a.top_share
      GROUP BY 1)
    SELECT m.media_id, m.media_type, CAST(m.n_bytes AS BIGINT) AS n_bytes,
           a.entropy_q, x.argmax_bucket, a.top_share, a.feature_digest
    FROM media m
    JOIN agg a ON a.media_id = m.media_id
    JOIN amax x ON x.media_id = m.media_id""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media → per-row feature scalars through Arrow-batched
    mapInPandas, hash-verified against a DuckDB re-derivation of the
    byte histogram (character slicing == byte slicing on the ASCII
    subset, the same trick as ``multimodal_frames``). Every output is
    engine-portable by construction: exact ints, one-division shares,
    quantized entropy, %.6f digests — see ``feature_summary``.
    ``extract_features`` keeps the vector API for downstream
    consumers."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.octet_length("text") == F.length("text")
    )
    return feature_summary(synthetic_media(docs))


@query(
    "multimodal_frames",
    """WITH ascii_video AS (
      SELECT doc_id, text FROM documents
      WHERE strlen(text) = length(text) AND doc_id % 3 = 2),
    idx AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(ceil(strlen(text) / 32.0) AS BIGINT))) AS j
      FROM ascii_video)
    SELECT doc_id AS media_id, CAST(j AS INT) AS frame_index,
           CAST(strlen(substr(text, CAST(j * 32 + 1 AS BIGINT), 32)) AS INT) AS frame_bytes,
           md5(substr(text, CAST(j * 32 + 1 AS BIGINT), 32)) AS frame_md5
    FROM idx WHERE j % 4 = 0""",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through mapInPandas, hash-verified: every 4th
    32-byte 'frame' of each video payload, surfaced as scalar metadata
    (index, byte count, md5). Restricted to ASCII documents so the SQL
    oracle's character slicing is byte-exact (this DuckDB build has no
    BLOB substring); the binary plumbing under test is identical."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.octet_length("text") == F.length("text")
    )
    frames = sample_frames(synthetic_media(docs), every_k=4, frame_size=32)
    return frames.select(
        "media_id",
        "frame_index",
        F.octet_length("frame").alias("frame_bytes"),
        F.md5("frame").alias("frame_md5"),
    )


# ---------------------------------------------------------------------------
# Constrained encoding, CSV golden format, commit stats (SURVEY §2.2 P5,
# §2.6 A6/B2, §2.7 E1/F6)
# ---------------------------------------------------------------------------

from stream_loader_spark.functions.encoding import (  # noqa: E402
    RecordEncoder,
    ColumnSpec,
    s3_loader_line,
)


@query(
    "p5_constrained_encoding",
    """SELECT c_custkey,
           CASE WHEN strlen(c_name) <= 12 THEN c_name ELSE substr(c_name, 1, 12) END AS name_varchar12,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal_dec
    FROM customer""",
)
def p5_constrained_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: VARCHAR(12) byte-safe truncation + DECIMAL(12,2) range-checked
    encoding (ByteWriter.scala:87-106 truncation semantics; the fixture
    names are ASCII so the oracle's char-substr is byte-equivalent —
    multi-byte boundaries are covered by unit tests). The checked decimal
    is surfaced as DOUBLE (exact: scaled DECIMAL(12,2) fits 2^53) so both
    engines hash the same pandas dtype."""
    encoder = RecordEncoder(
        ColumnSpec("c_custkey"),
        ColumnSpec("name_varchar12", source="c_name", max_bytes=12),
        ColumnSpec("acctbal_dec", source="c_acctbal", decimal=(12, 2)),
    )
    return encoder.apply(load_table(spark, sf_dir, "customer")).withColumn(
        "acctbal_dec", F.col("acctbal_dec").cast("double")
    )


@query(
    "f6_csv_lines",
    f"""{_KAFKA_CTE}
    SELECT topic || ';' || "partition" || ';' || "offset" || ';'
           || epoch_ms(ts) || ';' || COALESCE(props, '') AS line
    FROM kafka""",
)
def f6_csv_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: the S3 loader's golden CSV line shape
    ``topic;partition;offset;watermarkMillis;payload`` (loaders/S3.scala:51-57)."""
    rec = _events(spark, sf_dir)
    return rec.select(
        s3_loader_line(
            F.col("topic"), F.col("partition"), F.col("offset"), F.col("ts"), F.col("props")
        ).alias("line")
    )


@query(
    "a6_commit_stats",
    f"""{_KAFKA_CTE},
    files AS (
      SELECT topic, "partition", CAST(FLOOR("offset" / 250.0) AS BIGINT) AS file_id,
             COUNT(*) AS records, SUM(strlen(props)) AS bytes,
             epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS open_ms
      FROM kafka GROUP BY 1, 2, 3)
    SELECT topic, "partition",
           CAST(BOOL_OR(records >= 200) AS INT) AS any_file_large,
           CAST(BOOL_AND(records > 0) AS INT) AS all_files_nonempty,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes, MAX(open_ms) AS max_open_ms,
           CAST(SUM(records) AS BIGINT) AS total_records
    FROM files GROUP BY 1, 2""",
)
def a6_commit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: multi-file commit statistics — EXISTS/FORALL predicates plus
    totals over per-file stats (MultiFileCommitStrategy.scala:31-58),
    with files synthesized as 250-offset blocks."""
    rec = _events(spark, sf_dir)
    files = (
        rec.withColumn("file_id", F.floor(F.col("offset") / 250.0).cast("long"))
        .groupBy("topic", "partition", "file_id")
        .agg(
            F.count(F.lit(1)).alias("records"),
            F.sum(F.octet_length("props")).alias("bytes"),
            (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))).alias("open_ms"),
        )
    )
    return files.groupBy("topic", "partition").agg(
        F.bool_or(F.col("records") >= 200).cast("int").alias("any_file_large"),
        F.bool_and(F.col("records") > 0).cast("int").alias("all_files_nonempty"),
        F.sum("bytes").alias("total_bytes"),
        F.max("open_ms").alias("max_open_ms"),
        F.sum("records").alias("total_records"),
    )


# ---------------------------------------------------------------------------
# Additional relational surface: semi/anti joins, set ops, rollup,
# filter-only aggregation (SURVEY §2.9 — "free in Spark SQL")
# ---------------------------------------------------------------------------


@query(
    "q6_forecast_revenue",
    """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped filter-heavy scan: every predicate pushes into the
    parquet scan; the aggregate is a single partial+final sum."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit(datetime(1996, 1, 1)))
            & (F.col("l_shipdate") < F.lit(datetime(1997, 1, 1)))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,6)")
                * F.col("l_discount").cast("decimal(18,6)")
            )
            .cast("decimal(38,6)")
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "anti_join_idle_customers",
    """SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""",
)
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no urgent orders (NOT EXISTS → left_anti)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_mktsegment")


@query(
    "semi_join_active_suppliers",
    """SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_suppkey = s.s_suppkey
        AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00')""",
)
def semi_join_active_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: suppliers with any 1997+ shipment (EXISTS → left_semi)."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1))
    )
    return s.join(li, s.s_suppkey == li.l_suppkey, "left_semi").select("s_suppkey", "s_name")


@query(
    "except_building_no_big_orders",
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000""",
)
def except_building_no_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT DISTINCT → subtract)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = o.where(F.col("o_totalprice") > 300000).select(F.col("o_custkey").alias("c_custkey"))
    return building.subtract(big)


@query(
    "rollup_order_priority",
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""",
)
def rollup_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation with subtotal and grand-total rows."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("order_count"),
        dsum("o_totalprice", "total_price"),
    )


# ---------------------------------------------------------------------------
# Sessionization, distinct counts, BPE-ish token counting, cluster dedup
# ---------------------------------------------------------------------------

from stream_loader_spark.operators.dedup import dedup_keep_representative  # noqa: E402

SESSION_GAP_MS = 30 * 60 * 1000

# BPE-ish pre-tokenizer: letter runs, digit runs, single other non-space —
# the split shape GPT-style tokenizers apply before merges. RE2 (DuckDB)
# and Java (Spark) agree on these unicode classes.
BPE_PATTERN = r"\p{L}+|\p{N}+|[^\s\p{L}\p{N}]"


@query(
    "sessionize_events",
    f"""WITH e AS (SELECT user_id, event_id, ts FROM events),
    lagged AS (
      SELECT user_id, event_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM e),
    flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR epoch_ms(ts) - epoch_ms(prev_ts) > {SESSION_GAP_MS}
                  THEN 1 ELSE 0 END AS new_session
      FROM lagged),
    sess AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged)
    SELECT CAST(user_id % 8 AS INT) AS user_bucket, user_id, session_id,
           epoch_ms(MIN(ts)) AS session_start_ms, epoch_ms(MAX(ts)) AS session_end_ms,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): lag → new-session flag →
    running sum as session id → per-session rollup. The batch form of
    ``session_window`` streaming aggregation, deterministic for the
    oracle via (ts, event_id) ordering.

    Scale note: the window partitions on ``user_id`` — the high-
    cardinality natural session key, so task parallelism grows with the
    user population — and the coarse ``user_bucket`` (user_id % 8) is
    derived AFTER sessionization for downstream grouping. (Round-1
    version partitioned the window on the 8-value bucket itself: 8
    tasks sorting the whole table at any scale.) Session bounds are
    emitted as epoch-ms BIGINT and the running-sum session id is cast
    to BIGINT in the oracle (DuckDB window SUM yields HUGEINT)."""
    ev = load_table(spark, sf_dir, "events")
    from stream_loader_spark.sources.kafka_view import event_ts_col

    e = ev.select("user_id", "event_id", event_ts_col(ev).alias("ts"))
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn("prev_ts", F.lag("ts").over(w_order)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_millis("ts") - F.unix_millis("prev_ts") > SESSION_GAP_MS),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_session").over(w_order.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.unix_millis(F.min("ts")).alias("session_start_ms"),
        F.unix_millis(F.max("ts")).alias("session_end_ms"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        (F.col("user_id") % 8).cast("int").alias("user_bucket"),
        "user_id",
        "session_id",
        "session_start_ms",
        "session_end_ms",
        "n_events",
    )


@query(
    "session_window_stats",
    f"""WITH e AS (SELECT user_id, event_id, ts FROM events),
    lagged AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM e),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR epoch_ms(ts) - epoch_ms(prev_ts) >= {SESSION_GAP_MS}
                  THEN 1 ELSE 0 END AS new_session
      FROM lagged),
    sess AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged)
    SELECT user_id, epoch_ms(MIN(ts)) AS session_start_ms,
           epoch_ms(MAX(ts)) + {SESSION_GAP_MS} AS session_end_ms,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id""",
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` aggregation (the streaming-compatible
    session operator — the same expression works under readStream with
    a watermark). Oracle: the lag/flag/running-sum sessionization; note
    Spark merges events STRICTLY closer than the gap, and a session's
    end is last-event + gap, so the oracle flags ``>= gap`` as a new
    session and extends the end by the gap."""
    from stream_loader_spark.sources.kafka_view import event_ts_col

    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", event_ts_col(ev).alias("ts"))
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("session_window.start")).alias("session_start_ms"),
            F.unix_millis(F.col("session_window.end")).alias("session_end_ms"),
            "n_events",
        )
    )


@query(
    "distinct_users_daily",
    f"""{_KAFKA_CTE}
    SELECT topic, CAST(ts AS DATE) AS dt,
           COUNT(DISTINCT value) AS distinct_values, COUNT(*) AS events
    FROM kafka GROUP BY 1, 2""",
)
def distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation per day (expands to a two-phase
    distinct-then-count plan; the HLL approximate variant is
    ``approx_distinct_users`` below)."""
    rec = _events(spark, sf_dir)
    return rec.groupBy("topic", F.to_date("ts").alias("dt")).agg(
        F.count_distinct("value").alias("distinct_values"),
        F.count(F.lit(1)).alias("events"),
    )


@query(
    "approx_distinct_users",
    f"""{_KAFKA_CTE}
    SELECT topic, CAST(ts AS DATE) AS dt, COUNT(*) AS events,
           COUNT(DISTINCT value) >= 0 AS within_tolerance
    FROM kafka GROUP BY 1, 2""",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct count per day — the 100 TB path: constant
    memory per group vs the exact variant's per-value state.

    An HLL estimate can't hash-match an exact engine, so the CHECKED
    column is ``within_tolerance``: |approx − exact| / exact ≤ 0.05 per
    group, computed by running both aggregates side by side (the
    sketch is deterministic for fixed input, so this is a stable bit,
    not a flaky one). The oracle derives constant TRUE from exact
    counts — a red row means the sketch drifted outside its tolerance.

    The sketch is DataSketches HLL (``hll_sketch_agg``, lgK=14 →
    ~0.8% rse) rather than ``approx_count_distinct``: measured 2×
    faster at equal-or-better accuracy (0.41s vs 0.79s at sf0.1; max
    per-group error 0.0% vs 1.5% — DataSketches keeps an exact sparse
    mode below ~3/4·2^lgK distincts, so fixture-scale groups are
    EXACT, and at 100 TB the dense mode stays ~16 KiB per group). The
    binary sketches are also mergeable across partitions/days
    (``hll_union_agg``), which approx_count_distinct buffers are not
    API-accessible for.

    Both aggregates derive from ONE distinct-triple pre-aggregation:
    HLL is duplicate-insensitive, so approx_count_distinct over the
    per-(topic, dt, value) rows equals the estimate over raw rows, the
    exact count is COUNT(*) of those rows, and the event total is
    SUM of the per-triple counts. Two pipelined shuffles with map-side
    combine, no join, and ONE scan — at sf0.1 this ties the previous
    two-scan-plus-join form (values are near-unique so the pre-agg
    doesn't shrink the shuffle), but at 100 TB the saved second scan
    dominates. Both forms are ~8× faster than Catalyst's expand-based
    mixed-distinct plan."""
    rec = _events(spark, sf_dir)
    per_value = rec.groupBy(
        F.col("topic"), F.to_date("ts").alias("dt"), F.col("value")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        per_value.groupBy("topic", "dt")
        .agg(
            F.sum("n").alias("events"),
            F.count(F.lit(1)).alias("exact"),
            # sketch over the STRING form: hll_sketch_agg takes
            # int/bigint/string/binary, and double→string is 1:1
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("value").cast("string"), 14)
            ).alias("approx"),
        )
        .select(
            "topic",
            "dt",
            "events",
            (F.abs(F.col("approx") - F.col("exact")) / F.col("exact") <= 0.05).alias(
                "within_tolerance"
            ),
        )
    )


@query(
    "token_counts_bpe",
    f"""SELECT doc_id,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS ws_tokens,
           len(regexp_extract_all(text, '{BPE_PATTERN}')) AS bpe_tokens
    FROM documents""",
)
def token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish
    pre-tokenizer regex (letter runs / digit runs / single symbols)."""
    from stream_loader_spark.operators.text import tokens_col
    from stream_loader_spark.sources.tables import scatter

    docs = scatter(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), F.lit(0))).alias("bpe_tokens"),
    )


@query(
    "near_dup_dedup_end_to_end",
    f"""WITH RECURSIVE {_jaccard_pairs_ctes()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM good
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM good),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
    losers AS (SELECT src AS doc_id FROM reach GROUP BY src HAVING MIN(dst) < src)
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM losers)""",
)
def near_dup_dedup_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup dedup: MinHash-LSH pairs → connected components →
    keep the min-id representative per cluster.

    Oracle: the exhaustive Jaccard pair set closed transitively with a
    recursive CTE; survivors are nodes not reaching any smaller id —
    exactly min-label propagation's fixpoint."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    return dedup_keep_representative(docs, pairs).select("doc_id", "lang", "source")


@query(
    "incremental_exact_dedup",
    f"""WITH newset AS (
      SELECT doc_id, text, lang, source, sha256(text) AS content_hash
      FROM documents
      WHERE {_MD5_BUCKET_SQL.format(e="CAST(doc_id AS VARCHAR)")} < 64),
    seen AS (
      SELECT DISTINCT sha256(text) AS content_hash FROM documents
      WHERE {_MD5_BUCKET_SQL.format(e="CAST(doc_id AS VARCHAR)")} >= 64),
    firsts AS (
      SELECT content_hash, MIN(doc_id) AS doc_id FROM newset GROUP BY 1)
    SELECT n.doc_id, n.lang, n.source, n.content_hash
    FROM newset n
    JOIN firsts f ON f.content_hash = n.content_hash AND f.doc_id = n.doc_id
    WHERE n.content_hash NOT IN (SELECT content_hash FROM seen)""",
)
def incremental_exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: the batch (deterministic ~25% split)
    dedupes within itself then anti-joins the history's content-hash
    set — only the batch is hashed; history contributes 32 bytes/doc."""
    from stream_loader_spark.operators.dedup import incremental_exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    from stream_loader_spark.operators.sampling import sample_bucket

    is_new = sample_bucket(F.col("doc_id")) < 64
    new_docs = docs.where(is_new).select("doc_id", "text", "lang", "source")
    seen = (
        docs.where(~is_new)
        .select(F.sha2(F.col("text"), 256).alias("content_hash"))
        .distinct()
    )
    out = incremental_exact_dedup(new_docs, seen)
    return out.select("doc_id", "lang", "source", "content_hash")


@query(
    "incremental_near_dup",
    f"""WITH {_jaccard_pairs_ctes()},
    newset AS (
      SELECT doc_id FROM documents
      WHERE {_MD5_BUCKET_SQL.format(e="CAST(doc_id AS VARCHAR)")} < 64)
    SELECT doc_a, doc_b, jaccard FROM good
    WHERE doc_a IN (SELECT doc_id FROM newset)
       OR doc_b IN (SELECT doc_id FROM newset)""",
)
def incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup, batch form: a deterministic ~25% of
    the corpus plays the 'new batch'; all near-dup pairs touching the
    batch are found from ONE banding pass over the table (the 'new'
    predicate filters the slim band table into the probe side), with
    exact-Jaccard verify over collision-touched docs only. The
    persisted-index PROBE form (``incremental_near_dup_pairs``, where
    history is never re-hashed) is exercised by the streaming ingest
    sink and its pytest matrix — here the index would be derived
    inline anyway, so fusing the corpus and batch bandings halves the
    minhash work without changing the result. Oracle: exhaustive
    Jaccard pairs restricted to those touching the batch."""
    from stream_loader_spark.operators.dedup import near_dup_pairs_touching
    from stream_loader_spark.operators.sampling import sample_bucket

    docs = load_table(spark, sf_dir, "documents")
    return near_dup_pairs_touching(docs, sample_bucket(F.col("doc_id")) < 64)


@query(
    "near_dup_keep_best",
    f"""WITH RECURSIVE {_jaccard_pairs_ctes()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM good
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM good),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
    lbl AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster_id
      FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
      GROUP BY d.doc_id),
    ranked AS (
      SELECT l.doc_id,
             ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, l.doc_id) AS rn
      FROM lbl l JOIN documents d USING (doc_id))
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id IN (SELECT doc_id FROM ranked WHERE rn = 1)""",
)
def near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup with the keep-best policy: MinHash-LSH pairs →
    connected components → highest-n_chars member survives per cluster
    (ties → lowest id). Oracle closes the exhaustive Jaccard pairs
    transitively and ranks members per cluster label."""
    from stream_loader_spark.operators.dedup import dedup_keep_best_in_cluster

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    return dedup_keep_best_in_cluster(docs, pairs).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Wider TPC-H-shaped relational coverage (adapted to the fixture schema)
# ---------------------------------------------------------------------------

@query(
    "q4_late_orders",
    """SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority""",
)
def q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → left-semi join with a
    non-equi condition, then priority counts."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1997, 1, 1)))
    )
    li = load_table(spark, sf_dir, "lineitem")
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "q12_priority_by_flag",
    """SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_returnflag""",
)
def q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional CASE sums over a fact-dimension join."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1998, 1, 1)))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue",
    f"""SELECT CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV_DEC} ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(38,6)) AS DOUBLE)
             / CAST(CAST(SUM({_REV_DEC}) AS DECIMAL(38,6)) AS DOUBLE) * 100.0 AS promo_revenue_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-07-01 00:00:00'""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue ratio — both sums are exact
    decimals, the division happens once in double (cross-engine stable)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1997, 7, 1)))
    )
    p = load_table(spark, sf_dir, "part")
    rev = _rev_col()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,6)"))
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .agg(
            (
                F.sum(promo).cast("decimal(38,6)").cast("double")
                / F.sum(rev).cast("decimal(38,6)").cast("double")
                * F.lit(100.0)
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q16_supplier_variety",
    """SELECT p.p_brand, p.p_type, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size IN (1, 5, 9, 13)
    GROUP BY p.p_brand, p.p_type""",
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-count aggregation over a filtered join.

    Kept as broadcast-join → count_distinct: a pre-join distinct on
    (l_partkey, l_suppkey) was tried (round 8) and measured 3× slower
    locally — it adds a full extra shuffle stage, while the map-side
    partial aggregate of the count_distinct already collapses the
    post-join rows to the same (brand, type, suppkey) key space before
    the one existing shuffle. The broadcast filter on part prunes the
    probe side first, so nothing larger than the filtered join output
    ever moves."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_size").isin(1, 5, 9, 13))
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q18_large_orders",
    """WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 120)
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY b.total_qty DESC, o.o_orderkey
    LIMIT 20""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on an aggregate, join back to dimensions,
    deterministic top-k.

    The quantity sum goes through BIGINT, not the usual DECIMAL money
    staging: l_quantity is integral (TPC-H quantities 1..50 stored as
    double), so the integer sum is exact and order-independent on both
    engines, while the decimal aggregate — boxed per-row, outside
    whole-stage codegen's primitive path — measured 1.06s vs 0.46s for
    the primitive sum over the same 600k rows and made this query a
    bench boundary entry. ROUND precedes the cast on BOTH engines:
    a bare double→bigint cast truncates in Spark but rounds in
    DuckDB, so the two would diverge silently (wrong HAVING
    membership) if a fixture ever carried a non-integral quantity —
    rounding first keeps the exactness claim robust instead of
    fixture-dependent."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("qty_int"))
        .where(F.col("qty_int") > 120)
        .select("l_orderkey", F.col("qty_int").cast("double").alias("total_qty"))
    )
    return (
        big.join(o, o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select("c_custkey", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "q19_disjunctive_revenue",
    f"""SELECT CAST(CAST(SUM({_REV_DEC}) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 20 AND l.l_quantity BETWEEN 10 AND 25)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 20 AND 35)""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-ed multi-range predicates across both join
    sides (exercises CNF conversion / partial pushdown)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, p.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(1, 15))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(5, 20) & F.col("l_quantity").between(10, 25))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(20, 35))
    )
    return j.where(cond).agg(
        F.sum(_rev_col()).cast("decimal(38,6)").cast("double").alias("revenue")
    )


# ---------------------------------------------------------------------------
# As-of join, percentiles, pivot
# ---------------------------------------------------------------------------

from stream_loader_spark.operators.asof import asof_join  # noqa: E402


@query(
    "asof_join_last_order",
    """WITH e AS (SELECT event_id, CAST(user_id % 8 AS INT) AS upart, ts
          FROM events WHERE event_id < 2000),
    o AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
      FROM orders),
    o1 AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM o WHERE rn = 1)
    SELECT e.event_id, e.upart, e.ts, o1.o_orderkey, o1.o_totalprice
    FROM e ASOF LEFT JOIN o1
      ON e.upart = o1.o_custkey AND e.ts >= o1.o_orderdate""",
)
def asof_join_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks up the customer's latest order at or
    before its event time (union-and-carry window implementation; DuckDB
    verifies with its native ASOF JOIN)."""
    from stream_loader_spark.sources.kafka_view import event_ts_col

    ev = load_table(spark, sf_dir, "events")
    e = ev.where(F.col("event_id") < 2000).select(
        F.col("event_id"),
        (F.col("user_id") % 8).cast("int").alias("upart"),
        event_ts_col(ev).alias("ts"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    return asof_join(
        e,
        o.withColumnRenamed("o_custkey", "upart").withColumnRenamed("o_orderdate", "ots"),
        key="upart",
        left_time="ts",
        right_time="ots",
        payload_cols=["o_orderkey", "o_totalprice"],
        tie_break="o_orderkey",
    ).select("event_id", "upart", "ts", "o_orderkey", "o_totalprice")


@query(
    "value_percentiles",
    f"""{_KAFKA_CTE}
    SELECT topic,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           MIN(value) AS vmin, MAX(value) AS vmax
    FROM kafka GROUP BY topic""",
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per topic (Spark `percentile` ↔
    DuckDB `quantile_cont`, same linear interpolation)."""
    rec = _events(spark, sf_dir)
    return rec.groupBy("topic").agg(
        F.percentile("value", F.lit(0.5)).alias("p50"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


@query(
    "doc_length_quantiles",
    """SELECT source, COUNT(*) AS n_docs,
           quantile_disc(n_chars, 0.5) >= 0 AND quantile_disc(n_chars, 0.9) >= 0
             AND quantile_disc(n_chars, 0.99) >= 0 AS within_tolerance
    FROM documents GROUP BY source""",
)
def doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution per source via the approx-percentile
    SKETCH — the 100 TB path (GK sketch, bounded memory per group)
    beside the exact-sort `value_percentiles`.

    Like `approx_distinct_users`, a sketch can't hash-match an exact
    engine, so the checked column is a per-group tolerance bit: each
    approximate quantile must land within 2% of the exact discrete
    quantile (both sides pick actual data values). The oracle computes
    the exact quantiles and emits the same constant-true shape — a red
    row means the sketch broke its accuracy contract."""
    docs = load_table(spark, sf_dir, "documents")
    # sketch and exact are both plain (non-distinct) aggregates, so ONE
    # groupBy computes the pair — no second scan, no join, no expand
    agg = docs.groupBy("source").agg(
        F.percentile_approx(
            "n_chars", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), F.lit(10000)
        ).alias("aq"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)").alias("e50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars)").alias("e90"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY n_chars)").alias("e99"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tol = lambda a, e: F.abs(a - e) <= F.greatest(F.lit(1.0), e * 0.02)  # noqa: E731
    return agg.select(
        "source",
        "n_docs",
        (
            tol(F.element_at("aq", 1).cast("double"), F.col("e50").cast("double"))
            & tol(F.element_at("aq", 2).cast("double"), F.col("e90").cast("double"))
            & tol(F.element_at("aq", 3).cast("double"), F.col("e99").cast("double"))
        ).alias("within_tolerance"),
    )


@query(
    "pivot_daily_event_counts",
    f"""{_KAFKA_CTE}
    SELECT CAST(ts AS DATE) AS dt,
           COUNT(*) FILTER (topic = 'click') AS click,
           COUNT(*) FILTER (topic = 'error') AS error,
           COUNT(*) FILTER (topic = 'purchase') AS purchase,
           COUNT(*) FILTER (topic = 'signup') AS signup,
           COUNT(*) FILTER (topic = 'view') AS view
    FROM kafka GROUP BY 1""",
)
def pivot_daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivoted per-day counts with a fixed column set (explicit pivot
    values keep the plan single-pass and the schema deterministic)."""
    rec = _events(spark, sf_dir)
    piv = (
        rec.groupBy(F.to_date("ts").alias("dt"))
        .pivot("topic", ["click", "error", "purchase", "signup", "view"])
        .count()
    )
    return piv.select(
        "dt",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("click", "error", "purchase", "signup", "view")],
    )


from stream_loader_spark.operators.corpus import clean_corpus, CorpusCleanConfig  # noqa: E402


_CLEAN_CORPUS_SQL = f"""WITH RECURSIVE c0 AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
  FROM documents),
c1 AS (
  SELECT doc_id, text, toks,
         len(toks) AS token_count,
         length(text) AS char_count,
         len(list_filter(toks, t -> list_contains([{_STOP_DE}], t))) AS hits_de,
         len(list_filter(toks, t -> list_contains([{_STOP_EN}], t))) AS hits_en,
         len(list_filter(toks, t -> list_contains([{_STOP_ES}], t))) AS hits_es,
         len(list_filter(toks, t -> list_contains([{_STOP_FR}], t))) AS hits_fr
  FROM c0),
c2 AS (
  SELECT doc_id, text, token_count,
         CASE WHEN GREATEST(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
              WHEN hits_de = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
              WHEN hits_en = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
              WHEN hits_es = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
              ELSE 'fr' END AS pred_lang,
         CASE WHEN token_count > 0 THEN CAST(char_count - token_count + 1 AS DOUBLE) / token_count ELSE 0.0 END AS avg_token_len,
         CASE WHEN token_count > 0 THEN CAST(hits_en AS DOUBLE) / token_count ELSE 0.0 END AS stopword_ratio
  FROM c1),
c3 AS (
  SELECT doc_id, text, token_count, pred_lang,
         LEAST(token_count / 100.0, 1.0) * 0.4
         + LEAST(stopword_ratio * 5.0, 1.0) * 0.3
         + CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 0.3 ELSE 0.0 END AS quality_score
  FROM c2),
base AS (
  SELECT doc_id, text, token_count, pred_lang, quality_score FROM c3
  WHERE pred_lang IN ('en', 'de', 'es', 'fr') AND quality_score >= 0.3),
base2 AS (
  SELECT doc_id, text, token_count, pred_lang, quality_score FROM base
  QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY text)),
{_jaccard_pairs_ctes(src="base2")},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM good
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM good),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
losers AS (SELECT src AS doc_id FROM reach GROUP BY src HAVING MIN(dst) < src)
SELECT doc_id, pred_lang, quality_score, token_count FROM base2
WHERE doc_id NOT IN (SELECT doc_id FROM losers)"""


@query("clean_corpus_pipeline", _CLEAN_CORPUS_SQL)
def clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning flow: lang filter → quality
    floor → exact dedup → MinHash-LSH near-dup dedup → token accounting.

    Oracle: every stage is deterministic SQL (lang-id/quality formulas,
    min-id-per-text exact dedup, exhaustive Jaccard pairs closed with a
    recursive CTE) — the composition is checked end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = clean_corpus(
        docs, CorpusCleanConfig(keep_langs=("en", "de", "es", "fr"), min_quality=0.3)
    )
    return cleaned.select("doc_id", "pred_lang", "quality_score", "token_count")


# ---------------------------------------------------------------------------
# SQL-API surface: correlated scalar subquery, INTERSECT, GROUPING SETS
# (identical SQL text runs on Spark SQL and the DuckDB oracle)
# ---------------------------------------------------------------------------

from stream_loader_spark.sources.tables import register_all  # noqa: E402

_Q17_SQL = """SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#5'
  AND l.l_quantity < (
    SELECT 0.2 * CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"""

_INTERSECT_SQL = """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000"""

_GROUPING_SETS_SQL = """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS order_count
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())"""


@query("q17_small_quantity_revenue", _Q17_SQL)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape, window form: the correlated per-part average is
    a window aggregate over lineitem AFTER the broadcast semi-join to
    the brand's parts — the restricted rows still contain every row of
    each qualifying partkey, so the window average equals the
    subquery's, with ONE lineitem scan instead of Catalyst's
    de-correlated two (measured ~2× at sf0.1). Threshold arithmetic
    replicates the oracle's expression order exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#5")
        .select("p_partkey")
    )
    q = li.join(parts, li.l_partkey == parts.p_partkey)
    w = Window.partitionBy("l_partkey")
    thresh = (
        F.lit(0.2)
        * F.sum(F.col("l_quantity").cast("decimal(18,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    small = q.withColumn("qty_thresh", thresh).where(F.col("l_quantity") < F.col("qty_thresh"))
    return small.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double") / 7.0
        ).alias("avg_yearly")
    )


@query("intersect_building_big_orders", _INTERSECT_SQL)
def intersect_building_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (INTERSECT DISTINCT)."""
    register_all(spark, sf_dir)
    return spark.sql(_INTERSECT_SQL)


@query("grouping_sets_orders", _GROUPING_SETS_SQL)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with disjoint grouping columns + grand total."""
    register_all(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


@query(
    "salted_join_above_avg",
    f"""{_KAFKA_CTE},
    avgs AS (
      SELECT topic,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS topic_avg
      FROM kafka GROUP BY topic)
    SELECT k.topic, COUNT(*) AS above_avg_events
    FROM kafka k JOIN avgs a ON a.topic = k.topic
    WHERE k.value > a.topic_avg
    GROUP BY k.topic""",
)
def salted_join_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe join surfaced as a query: the events fact (skewed —
    5 topic keys) joins its per-topic average through ``salted_join``,
    which scatters each hot key across salt buckets; the result equals
    the plain join exactly (the oracle runs the unsalted form), only
    the shuffle distribution differs."""
    from stream_loader_spark.operators.skew import salted_join

    rec = _events(spark, sf_dir)
    avgs = rec.groupBy(F.col("topic").alias("t2")).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))
        ).alias("topic_avg")
    ).withColumnRenamed("t2", "topic")
    j = salted_join(rec.select("topic", "value"), avgs, on=["topic"], salt_buckets=8)
    return (
        j.where(F.col("value") > F.col("topic_avg"))
        .groupBy("topic")
        .agg(F.count(F.lit(1)).alias("above_avg_events"))
    )


@query(
    "cube_order_stats",
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)""",
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation: all four grouping-set combinations in one pass
    (completes the rollup / grouping-sets / cube trio)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("order_count"),
        dsum("o_totalprice", "total_price"),
    )


@query(
    "range_frame_event_values",
    f"""{_KAFKA_CTE},
    e AS (SELECT topic, "partition", "offset", epoch_ms(ts) AS ts_ms, value FROM kafka),
    w AS (
      SELECT topic, "partition", "offset",
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY topic, "partition" ORDER BY ts_ms
               RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_sum,
             CAST(COUNT(*) OVER (
               PARTITION BY topic, "partition" ORDER BY ts_ms
               RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS BIGINT) AS hour_n
      FROM e)
    SELECT topic, "partition", "offset", hour_sum, hour_n
    FROM w WHERE "offset" % 100 = 0""",
)
def range_frame_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame over event time: trailing-hour value sum per
    stream partition (value-based frame bounds, vs the ROWS frame in
    ``moving_avg_values``)."""
    rec = _events(spark, sf_dir)
    e = rec.select("topic", "partition", "offset", F.unix_millis("ts").alias("ts_ms"), "value")
    w = (
        Window.partitionBy("topic", "partition")
        .orderBy("ts_ms")
        .rangeBetween(-3_600_000, 0)
    )
    return (
        e.select(
            "topic",
            "partition",
            "offset",
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("hour_sum"),
            F.count(F.lit(1)).over(w).alias("hour_n"),
        )
        .where(F.col("offset") % 100 == 0)
    )


@query(
    "first_last_order_drift",
    """WITH w AS (
      SELECT o_custkey,
             FIRST_VALUE(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS first_price,
             LAST_VALUE(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
      FROM orders)
    SELECT o_custkey, COUNT(*) AS n_orders,
           MAX(first_price) AS first_price, MAX(last_price) AS last_price,
           MAX(last_price) - MAX(first_price) AS price_drift
    FROM w GROUP BY o_custkey""",
)
def first_last_order_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE window frames: each customer's first and
    latest order price (LAST_VALUE needs the explicit unbounded-following
    frame — the default frame ends at CURRENT ROW) and their drift."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per = o.select(
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
    )
    return per.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("first_price").alias("first_price"),
        F.max("last_price").alias("last_price"),
        (F.max("last_price") - F.max("first_price")).alias("price_drift"),
    )


@query(
    "ntile_customer_quartiles",
    """WITH t AS (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile
      FROM customer)
    SELECT c_mktsegment, quartile, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS balance_sum
    FROM t GROUP BY 1, 2""",
)
def ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE ranking: account-balance quartiles per market segment
    (unique-key tie-break keeps bucket assignment deterministic)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "balance_sum"),
        )
    )


from stream_loader_spark.operators.rangejoin import binned_range_join  # noqa: E402


@query(
    "range_join_purchase_windows",
    f"""{_KAFKA_CTE},
    purchases AS (
      SELECT "partition" AS upart, "offset" AS purchase_id, ts AS pstart,
             ts + INTERVAL 1 HOUR AS pend
      FROM kafka WHERE topic = 'purchase'),
    activity AS (
      SELECT "partition" AS upart, "offset" AS event_id, ts, topic
      FROM kafka WHERE topic IN ('view', 'click'))
    SELECT p.purchase_id,
           COUNT(*) AS events_in_window,
           CAST(SUM(CASE WHEN a.topic = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
           CAST(SUM(CASE WHEN a.topic = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks
    FROM purchases p JOIN activity a
      ON a.upart = p.upart AND a.ts >= p.pstart AND a.ts < p.pend
    GROUP BY p.purchase_id""",
)
def range_join_purchase_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via binning: views/clicks of the same user bucket in
    the hour after each purchase. The oracle runs the naive BETWEEN
    join; Spark runs the binned equi-join rewrite."""
    rec = _events(spark, sf_dir)
    purchases = rec.where(F.col("topic") == "purchase").select(
        F.col("partition").alias("upart"),
        F.col("offset").alias("purchase_id"),
        F.col("ts").alias("pstart"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("pend"),
    )
    activity = rec.where(F.col("topic").isin("view", "click")).select(
        F.col("partition").alias("upart"),
        F.col("offset").alias("event_id"),
        "ts",
        "topic",
    )
    joined = binned_range_join(
        activity, purchases, key="upart", point_time="ts",
        interval_start="pstart", interval_end="pend", bin_width_sec=3600,
    )
    return joined.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("events_in_window"),
        F.sum(F.when(F.col("topic") == "view", 1).otherwise(0)).alias("views"),
        F.sum(F.when(F.col("topic") == "click", 1).otherwise(0)).alias("clicks"),
    )


@query(
    "moving_avg_values",
    f"""{_KAFKA_CTE},
    w AS (
      SELECT topic, "partition", "offset",
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY topic, "partition" ORDER BY "offset"
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS win_sum,
             COUNT(*) OVER (
               PARTITION BY topic, "partition" ORDER BY "offset"
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS win_n
      FROM kafka)
    SELECT topic, "partition", "offset", win_sum / win_n AS moving_avg
    FROM w WHERE "offset" % 50 = 0""",
)
def moving_avg_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window frame (ROWS BETWEEN 3 PRECEDING): 4-event moving
    average per partition; the sum is exact decimal, divided once."""
    rec = _events(spark, sf_dir)
    w = Window.partitionBy("topic", "partition").orderBy("offset").rowsBetween(-3, 0)
    return (
        rec.select(
            "topic",
            "partition",
            "offset",
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("win_sum"),
            F.count(F.lit(1)).over(w).alias("win_n"),
        )
        .withColumn("moving_avg", F.col("win_sum") / F.col("win_n"))
        .where(F.col("offset") % 50 == 0)
        .select("topic", "partition", "offset", "moving_avg")
    )


@query(
    "embedding_norm_stats",
    """WITH n AS (
      SELECT label,
             ROUND(SQRT(list_sum(list_transform(range(1, len(embedding) + 1),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 6) AS norm
      FROM embeddings)
    SELECT label, COUNT(*) AS n_vecs,
           CAST(SUM(CAST(norm AS DECIMAL(18,6))) AS DOUBLE) AS norm_sum,
           MIN(norm) AS norm_min, MAX(norm) AS norm_max
    FROM n GROUP BY label""",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array math over embeddings: per-label L2-norm statistics (norms
    rounded to 6 decimals, summed exactly)."""
    from stream_loader_spark.operators.similarity import norm_col

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select("label", F.round(norm_col(F.col("embedding")), 6).alias("norm"))
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("norm").cast("decimal(18,6)")).cast("double").alias("norm_sum"),
        F.min("norm").alias("norm_min"),
        F.max("norm").alias("norm_max"),
    )


@query(
    "order_age_buckets",
    """SELECT CAST(FLOOR(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') / 365.0) AS BIGINT) AS age_years,
           COUNT(*) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
    FROM orders GROUP BY 1""",
)
def order_age_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: order age in whole years as of a fixed date."""
    o = load_table(spark, sf_dir, "orders")
    age_days = F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date"))
    return (
        o.withColumn("age_years", F.floor(age_days / 365.0).cast("long"))
        .groupBy("age_years")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            dsum("o_totalprice", "total_price"),
        )
    )


@query(
    "token_frequencies",
    """WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token
      FROM documents WHERE len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) > 0),
    counts AS (
      SELECT token, COUNT(*) AS freq FROM toks GROUP BY token)
    SELECT token, freq FROM counts
    ORDER BY freq DESC, token LIMIT 100""",
)
def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical corpus word count: explode tokens → hash aggregate
    (map-side combine carries one row per distinct token per task) →
    deterministic top-100."""
    from stream_loader_spark.operators.text import tokens_col
    from stream_loader_spark.sources.tables import scatter

    docs = scatter(load_table(spark, sf_dir, "documents"))
    toks = docs.where(F.length(F.trim("text")) > 0).select(
        F.explode(tokens_col(F.col("text"))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(100)
    )


@query(
    "q13_order_count_distribution",
    """WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count""",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join with an extra join predicate,
    per-customer counts (zero-preserving), then a histogram of counts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q15_top_supplier",
    f"""WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {REV_SUM_SQL} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate CTE reused twice (revenue + its max as
    an uncorrelated scalar subquery)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1997, 4, 1)))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        rev_sum("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q21_waiting_supplier_orders",
    """SELECT l1.l_suppkey, COUNT(*) AS waiting_count
    FROM lineitem l1 JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY l1.l_suppkey""",
)
def q21_waiting_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS and NOT EXISTS, both correlated with
    inequality predicates, on the same fact table (semi + anti join)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    l1 = (
        li.where(F.col("l_returnflag") == "R")
        .join(o, o.o_orderkey == li.l_orderkey)
        .select("l_orderkey", "l_suppkey", "l_returnflag")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    stage1 = l1.join(
        l2, (F.col("o2") == l1.l_orderkey) & (F.col("s2") != l1.l_suppkey), "left_semi"
    )
    stage2 = stage1.join(
        l3,
        (F.col("o3") == stage1.l_orderkey) & (F.col("s3") != stage1.l_suppkey),
        "left_anti",
    )
    return stage2.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("waiting_count"))


@query(
    "q7_volume_shipping",
    f"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l.l_shipdate) AS BIGINT) AS l_year,
           {REV_SUM_L_SQL} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension (nation) joined twice under
    different roles, a symmetric OR-pair filter, and year extraction."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1998, 1, 1)))
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("k1"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("k2"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(s, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("k1") == s.s_nationkey)
        .join(F.broadcast(n2), F.col("k2") == c.c_nationkey)
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(rev_sum("revenue"))


@query(
    "q22_global_sales_opportunity",
    """WITH eligible AS (
      SELECT c_custkey, c_acctbal, CAST(c_custkey % 7 AS VARCHAR) AS cc
      FROM customer
      WHERE CAST(c_custkey % 7 AS VARCHAR) IN ('1', '2', '3', '4')
        AND c_acctbal > (
          SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
          FROM customer c2 WHERE c2.c_acctbal > 0.0))
    SELECT cc, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
    FROM eligible e
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = e.c_custkey AND o.o_totalprice > 450000)
    GROUP BY cc""",
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: derived country-code bucketing, an uncorrelated scalar
    average subquery (exact decimal sum / count), and NOT EXISTS against
    high-value orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_bal")
        )
    )
    eligible = (
        c.withColumn("cc", (F.col("c_custkey") % 7).cast("string"))
        .where(F.col("cc").isin("1", "2", "3", "4"))
        .crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
    )
    big = o.where(F.col("o_totalprice") > 450000)
    no_orders = eligible.join(big, big.o_custkey == eligible.c_custkey, "left_anti")
    return no_orders.groupBy("cc").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double").alias("totacctbal"),
    )


@query(
    "q2_min_cost_supplier",
    """WITH eur AS (
      SELECT s.s_suppkey, s.s_name, n.n_name AS supp_nation
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'),
    offers AS (
      SELECT l.l_partkey, l.l_suppkey, CAST(MIN(l.l_extendedprice) AS DOUBLE) AS offer
      FROM lineitem l JOIN eur e ON e.s_suppkey = l.l_suppkey
      GROUP BY 1, 2),
    best AS (SELECT l_partkey, MIN(offer) AS best_offer FROM offers GROUP BY 1)
    SELECT p.p_partkey, e.s_name, e.supp_nation, o.offer
    FROM offers o
    JOIN best b ON b.l_partkey = o.l_partkey AND o.offer = b.best_offer
    JOIN part p ON p.p_partkey = o.l_partkey
    JOIN eur e ON e.s_suppkey = o.l_suppkey
    WHERE p.p_size <= 5""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest regional offer per part (correlated MIN
    de-correlated; lineitem stands in for partsupp, which the fixture
    lacks). Ties keep every min-price supplier — set semantics,
    deterministic.

    The per-part minimum is a window MIN over ``l_partkey`` on the
    offers aggregate rather than a groupBy self-join: the self-join
    form re-derived the whole lineitem-side pipeline on both join
    inputs (12 scans / 16 exchanges measured — Catalyst does not reuse
    the exchange across the two aggregate branches), while the window
    form derives offers ONCE and adds a single partkey exchange. The
    window partition is suppliers-per-part — bounded and uniform at
    any corpus size."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_size") <= 5)
    eur = s.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == n.n_nationkey,
    ).select("s_suppkey", "s_name", F.col("n_name").alias("supp_nation"))
    offers = (
        li.join(eur.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"))
        # ONE exchange for both downstream distributions: hash(l_partkey)
        # satisfies the (l_partkey, l_suppkey) aggregate's clustering AND
        # the window's, so neither re-shuffles — without this hint the
        # agg exchanges on the pair key and the window exchanges again
        # on l_partkey (measured 0.91s → 0.77s, same results)
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").cast("double").alias("offer"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        offers.withColumn("best_offer", F.min("offer").over(w))
        .where(F.col("offer") == F.col("best_offer"))
        .join(p, p.p_partkey == offers.l_partkey)
        .join(eur, eur.s_suppkey == offers.l_suppkey)
        .select("p_partkey", "s_name", "supp_nation", "offer")
    )


@query(
    "q8_market_share",
    f"""SELECT CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(CAST(SUM(CASE WHEN n2.n_name = 'NATION_1' THEN {_REV_DEC.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(38,6)) AS DOUBLE)
           / CAST(CAST(SUM({_REV_DEC.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DECIMAL(38,6)) AS DOUBLE) AS mkt_share
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n1.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE r.r_name = 'EUROPE' AND p.p_type = 'STANDARD'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's revenue share per year — conditional
    decimal sum over total decimal sum, divided once in double."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1998, 1, 1)))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    n1 = n.select(F.col("n_nationkey").alias("k1"), F.col("n_regionkey").alias("rk1"))
    n2 = n.select(F.col("n_nationkey").alias("k2"), F.col("n_name").alias("supp_nation"))
    rev = _rev_col()
    j = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1.join(F.broadcast(r), F.col("rk1") == r.r_regionkey)), F.col("k1") == c.c_nationkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n2), F.col("k2") == s.s_nationkey)
        .join(p, p.p_partkey == li.l_partkey)
    )
    national = F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return j.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        (
            F.sum(national).cast("decimal(38,6)").cast("double")
            / F.sum(rev).cast("decimal(38,6)").cast("double")
        ).alias("mkt_share")
    )


@query(
    "q9_profit_by_nation_year",
    """SELECT n.n_name, CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(CAST(SUM(
             CAST(l.l_extendedprice AS DECIMAL(18,6)) * CAST(1.0 - l.l_discount AS DECIMAL(18,6))
             - CAST(p.p_retailprice * 0.6 AS DECIMAL(18,6)) * CAST(l.l_quantity AS DECIMAL(18,6))
           ) AS DECIMAL(38,6)) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type = 'ECONOMY'
    GROUP BY 1, 2""",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus synthesized supply cost —
    the fixture has no partsupp, so cost = 0.6 × retail × quantity) per
    supplier nation and order year, exact decimal arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    profit_el = _rev_col() - (
        (F.col("p_retailprice") * F.lit(0.6)).cast("decimal(18,6)")
        * F.col("l_quantity").cast("decimal(18,6)")
    )
    return (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(p, p.p_partkey == li.l_partkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(profit_el).cast("decimal(38,6)").cast("double").alias("profit"))
    )


@query(
    "q20_promo_part_suppliers",
    """SELECT s.s_suppkey, s.s_name FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,6))) > 50)""",
)
def q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: semi join against an aggregated-HAVING subquery
    (suppliers who moved > 50 units of any promo part in 1997+)."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1))
    )
    promo = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    movers = (
        li.join(promo, promo.p_partkey == li.l_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return s.join(movers, movers.l_suppkey == s.s_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@query(
    "q10_returned_items",
    f"""SELECT c.c_custkey, c.c_mktsegment, n.n_name,
           {REV_SUM_L_SQL} AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY c.c_custkey, c.c_mktsegment, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top-20 with
    a unique tie-break."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1997, 7, 1)))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    j = (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_mktsegment", "n_name")
        .agg(rev_sum("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q11_important_suppliers",
    f"""WITH per_supp AS (
      SELECT l_suppkey, {REV_SUM_SQL} AS supp_value
      FROM lineitem GROUP BY l_suppkey)
    SELECT l_suppkey, supp_value
    FROM per_supp
    WHERE supp_value > (SELECT CAST(SUM(CAST(supp_value AS DECIMAL(18,6))) AS DOUBLE) * 0.011 FROM per_supp)""",
)
def q11_important_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value filtered against a fraction of
    the GLOBAL total (aggregate CTE + scalar subquery over itself)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_suppkey").agg(rev_sum("supp_value"))
    threshold = per_supp.agg(
        (F.sum(F.col("supp_value").cast("decimal(18,6)")).cast("double") * 0.011).alias("thr")
    )
    return (
        per_supp.crossJoin(F.broadcast(threshold))
        .where(F.col("supp_value") > F.col("thr"))
        .select("l_suppkey", "supp_value")
    )


# --- Training-corpus preparation (operators/training.py) -----------------


@query(
    "chunk_documents",
    """WITH t AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
      FROM documents WHERE len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) > 0)
    SELECT doc_id,
           CAST(k AS INT) AS chunk_index,
           CAST(len(list_slice(toks, k * 24 + 1, k * 24 + 32)) AS INT) AS n_tokens,
           sha256(array_to_string(list_slice(toks, k * 24 + 1, k * 24 + 32), ' '))
             AS chunk_hash
    FROM t, UNNEST(range(0, CASE WHEN len(toks) <= 32 THEN 1
                         ELSE CAST(CEIL((len(toks) - 32) / 24.0) AS BIGINT) + 1 END)) AS u(k)""",
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 32-token chunks, 8-token overlap
    (stride 24). Narrow transform+explode — no shuffle; chunk content
    verified via sha256 of the rejoined tokens."""
    from stream_loader_spark.operators.training import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


@query(
    "benchmark_contamination",
    """WITH t AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
      FROM documents),
    d AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
             ELSE [array_to_string(toks, ' ')] END AS shingles
      FROM t),
    bench AS MATERIALIZED (
      SELECT DISTINCT unnest(shingles) AS shingle FROM d WHERE doc_id % 50 = 0),
    ds AS (SELECT doc_id, unnest(shingles) AS shingle FROM d WHERE doc_id % 50 <> 0)
    SELECT ds.doc_id,
           COUNT(*) AS n_shingles,
           COUNT(b.shingle) AS n_contaminated,
           COUNT(b.shingle) / CAST(COUNT(*) AS DOUBLE) AS contamination
    FROM ds LEFT JOIN bench b USING (shingle)
    GROUP BY ds.doc_id""",
)
def benchmark_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: share of each corpus document's
    distinct 3-gram shingles that appear in the (broadcast) benchmark
    shingle set — benchmark = every 50th document, corpus = the rest."""
    from stream_loader_spark.operators.training import benchmark_contamination

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    return benchmark_contamination(corpus, bench)


@query(
    "stratified_sample",
    """WITH b AS (
      SELECT doc_id, lang,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
             AS bucket,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents),
    r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY bucket, h, doc_id)
               AS sample_rank
      FROM b)
    SELECT doc_id, lang, CAST(sample_rank AS INT) AS sample_rank
    FROM r WHERE sample_rank <= 40""",
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped per-language sample (≤40 docs/lang) in deterministic md5
    order — a reproducible balanced subset for eval carve-outs."""
    from stream_loader_spark.operators.training import stratified_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, per_stratum=40)


@query(
    "tfidf_top_terms",
    """WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token
      FROM documents WHERE len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) > 0),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS MATERIALIZED (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tok),
    scored AS (
      SELECT t.doc_id, t.token, t.tf,
             ROUND(CAST(t.tf AS DOUBLE) * ln(n.n_docs / d.df), 6) AS score
      FROM tf t JOIN dfreq d USING (token) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, token, tf, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token)
               AS term_rank
      FROM scored)
    SELECT doc_id, CAST(term_rank AS INT) AS term_rank, token,
           CAST(tf AS BIGINT) AS tf, score
    FROM ranked WHERE term_rank <= 3""",
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document; the document-frequency
    vocabulary joins broadcast (same Zipf-skew rationale as
    unigram_logprob)."""
    from stream_loader_spark.operators.training import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


_REPEATED_SPAN_CTES = """WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
      FROM documents),
    gx AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS start FROM t),
    g AS (SELECT doc_id, CAST(start AS INT) AS start,
                 array_to_string(toks[start:start+4], ' ') AS gram
          FROM gx),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
    hit AS (SELECT doc_id, start, start + 4 AS fin FROM g JOIN dup USING (gram)),
    w AS (SELECT doc_id, start, fin,
                 MAX(fin) OVER (PARTITION BY doc_id ORDER BY start
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max
          FROM hit),
    f AS (SELECT doc_id, start, fin,
                 CASE WHEN prev_max IS NULL OR start > prev_max + 1
                      THEN 1 ELSE 0 END AS new_island
          FROM w),
    i AS (SELECT doc_id, start, fin,
                 SUM(new_island) OVER (PARTITION BY doc_id ORDER BY start
                                       ROWS UNBOUNDED PRECEDING) AS island
          FROM f),
    spans AS (
      SELECT doc_id, CAST(MIN(start) AS INT) AS span_start,
             CAST(MAX(fin) AS INT) AS span_end,
             CAST(MAX(fin) - MIN(start) + 1 AS INT) AS span_tokens
      FROM i GROUP BY doc_id, island)"""


@query(
    "repeated_ngram_spans",
    f"""{_REPEATED_SPAN_CTES}
    SELECT doc_id, span_start, span_end, span_tokens FROM spans""",
)
def repeated_ngram_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al-style substring dedup signal: maximal token spans
    covered by 5-grams occurring in >= 2 distinct documents. The Spark
    side groups by md5 digest (narrow shuffle key); the oracle groups
    by the raw gram string — identical results absent md5 collisions."""
    from stream_loader_spark.operators.spans import repeated_ngram_spans

    docs = load_table(spark, sf_dir, "documents")
    return repeated_ngram_spans(docs, n=5, min_df=2)


@query(
    "repeated_ngram_doc_stats",
    f"""{_REPEATED_SPAN_CTES},
    p AS (SELECT doc_id, CAST(SUM(span_tokens) AS INT) AS dup_tokens
          FROM spans GROUP BY doc_id),
    base AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS INT)
               AS n_tokens
      FROM documents)
    SELECT b.doc_id, b.n_tokens, COALESCE(p.dup_tokens, 0) AS dup_tokens,
           CASE WHEN b.n_tokens > 0
                THEN CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / b.n_tokens
                ELSE 0.0 END AS dup_fraction
    FROM base b LEFT JOIN p USING (doc_id)""",
)
def repeated_ngram_doc_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token fraction over MERGED spans (no
    double counting from overlapping grams) — the RefinedWeb-style
    document filter signal; every document appears, zero when clean."""
    from stream_loader_spark.operators.spans import repeated_ngram_doc_stats

    docs = load_table(spark, sf_dir, "documents")
    return repeated_ngram_doc_stats(docs, n=5, min_df=2)


@query(
    "stats_moments_returnflag",
    """WITH a AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                      * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))
                      * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                      * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sxy
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           CAST(CAST(sx / CAST(n AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mean_x,
           CAST(CAST(sy / CAST(n AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mean_y,
           CAST(CAST(CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * sxx - sx * sx) > 0 THEN
             sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) END
             AS DECIMAL(18,6)) AS DOUBLE) AS stddev_x,
           CAST(CAST(CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0 THEN
             sqrt((CAST(n AS DOUBLE) * syy - sy * sy)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) END
             AS DECIMAL(18,6)) AS DOUBLE) AS stddev_y,
           CAST(CAST((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE)
             AS covar_pop_xy,
           CAST(CAST(CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
                          AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0 THEN
             (CAST(n AS DOUBLE) * sxy - sx * sy)
               / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                      * (CAST(n AS DOUBLE) * syy - sy * sy)) END
             AS DECIMAL(18,6)) AS DOUBLE) AS corr_xy
    FROM a""",
)
def stats_moments_returnflag_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family (mean/stddev/covar/corr) per
    return flag, derived from exact decimal sufficient statistics and
    an engine-identical double expression tree (see operators/stats.py
    for why the built-in one-pass aggregates can't be hash-compared)."""
    from stream_loader_spark.operators.stats import grouped_moment_stats_cents

    li = load_table(spark, sf_dir, "lineitem")
    # integer-split exact sums: TPC-H quantity/extendedprice are exact
    # 2-decimal values bounded by 105000 at ANY scale factor
    # (quantity <= 50, retailprice <= ~2100), so the cents fast path
    # (pure bigint per-row arithmetic, decimal recombination on the 3
    # grouped rows only) is exact and bit-identical to the generic
    # decimal path — see grouped_moment_stats_cents
    out = grouped_moment_stats_cents(li, "l_returnflag", "l_quantity", "l_extendedprice")
    # Snap every derived double to scale-6 decimal (values <= ~1e5, so
    # the scaled integer sits far inside 2^53 where Spark's and
    # DuckDB's decimal->double conversions agree bit-for-bit); the raw
    # sufficient-statistic doubles differ in the last ulp because
    # DuckDB's hugeint->double conversion double-rounds.
    snap = ["mean_x", "mean_y", "stddev_x", "stddev_y", "covar_pop_xy", "corr_xy"]
    return out.select(
        "l_returnflag",
        "n",
        *[F.col(c).cast("decimal(18,6)").cast("double").alias(c) for c in snap],
    )


@query(
    "corpus_diff_status",
    """WITH old AS (
      SELECT doc_id, sha256(text) AS old_digest
      FROM documents WHERE doc_id % 13 <> 3),
    new AS (
      SELECT doc_id,
             sha256(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END)
               AS new_digest
      FROM documents WHERE doc_id % 13 <> 7)
    SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old_digest IS NULL THEN 'added'
                WHEN new_digest IS NULL THEN 'removed'
                WHEN old_digest <> new_digest THEN 'changed'
                ELSE 'unchanged' END AS status,
           old_digest, new_digest
    FROM old FULL OUTER JOIN new USING (doc_id)""",
)
def corpus_diff_status_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff between two deterministic snapshots of
    the documents table (dropped ids -> added/removed, ' v2'-suffixed
    text -> changed). Digest-only projection before the single
    full-outer join — the text never reaches the shuffle."""
    from stream_loader_spark.operators.versioning import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 13 != 3)
    new = docs.where(F.col("doc_id") % 13 != 7).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


@query(
    "embedding_quantization",
    """SELECT vec_id,
           CAST(len(embedding) AS INT) AS n_dims,
           CAST(list_min(embedding) AS DOUBLE) AS vmin,
           CAST(list_max(embedding) AS DOUBLE) AS vmax,
           (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE))
             / 255.0 AS scale,
           CAST(list_aggregate(codes, 'sum') AS BIGINT) AS q_checksum,
           CAST(CAST(CASE WHEN len(embedding) = 0 THEN 0.0 ELSE
             list_aggregate(list_transform(range(1, len(embedding) + 1),
               i -> abs(CAST(embedding[i] AS DOUBLE)
                        - (CAST(list_min(embedding) AS DOUBLE) + codes[i] *
                           ((CAST(list_max(embedding) AS DOUBLE)
                             - CAST(list_min(embedding) AS DOUBLE)) / 255.0)))),
               'sum') / len(embedding) END AS DECIMAL(18,6)) AS DOUBLE) AS recon_mae
    FROM (
      SELECT vec_id, embedding,
             CASE WHEN list_max(embedding) = list_min(embedding)
                  THEN list_transform(embedding, v -> 0)
                  ELSE list_transform(embedding,
                    v -> CAST(round((CAST(v AS DOUBLE)
                                     - CAST(list_min(embedding) AS DOUBLE))
                                    / ((CAST(list_max(embedding) AS DOUBLE)
                                        - CAST(list_min(embedding) AS DOUBLE))
                                       / 255.0)) AS INT))
             END AS codes
      FROM embeddings)""",
)
def embedding_quantization_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style min-max scalar quantization stats per embedding
    vector: exact integer code checksum + bit-stable reconstruction
    parameters + scale-6-snapped mean reconstruction error."""
    from stream_loader_spark.operators.quantize import quantized_embedding_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_embedding_stats(emb)


@query(
    "incremental_release_delta",
    f"""WITH old AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 3),
    new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
      FROM documents WHERE doc_id % 13 <> 7),
    delta AS (
      SELECT new.doc_id, new.text,
             CASE WHEN old.doc_id IS NULL THEN 'added' ELSE 'changed' END AS status
      FROM new LEFT JOIN old USING (doc_id)
      WHERE old.doc_id IS NULL OR old.text <> new.text),
    t AS (
      SELECT doc_id, status, text,
             {_TOKENS_SQL} AS toks
      FROM delta),
    h AS (
      SELECT doc_id, status, text, toks,
             len(list_filter(toks, x -> list_contains([{_STOP_DE}], x))) AS hits_de,
             len(list_filter(toks, x -> list_contains([{_STOP_EN}], x))) AS hits_en,
             len(list_filter(toks, x -> list_contains([{_STOP_ES}], x))) AS hits_es,
             len(list_filter(toks, x -> list_contains([{_STOP_FR}], x))) AS hits_fr
      FROM t),
    lid AS (
      SELECT doc_id, status, text, toks,
             CASE WHEN GREATEST(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                  WHEN hits_de = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                  WHEN hits_en = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                  WHEN hits_es = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM h),
    m AS (
      SELECT doc_id, status, pred_lang,
             len(toks) AS token_count,
             length(text) AS char_count,
             len(string_split_regex(text, '[.,!?;:]')) - 1 AS punct_count,
             len(list_filter(toks, x -> list_contains([{_STOP_EN}], x))) AS stop_hits
      FROM lid),
    s AS (
      SELECT doc_id, status, pred_lang, token_count,
             CASE WHEN token_count > 0 THEN CAST(char_count - token_count + 1 AS DOUBLE) / token_count ELSE 0.0 END AS avg_token_len,
             CASE WHEN token_count > 0 THEN CAST(stop_hits AS DOUBLE) / token_count ELSE 0.0 END AS stopword_ratio
      FROM m),
    q AS (
      SELECT doc_id, status, pred_lang, token_count,
             LEAST(token_count / 100.0, 1.0) * 0.4
             + LEAST(stopword_ratio * 5.0, 1.0) * 0.3
             + CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 0.3 ELSE 0.0 END
               AS quality_score
      FROM s)
    SELECT doc_id, status, pred_lang, CAST(token_count AS INT) AS token_count,
           quality_score
    FROM q WHERE pred_lang <> 'und' AND quality_score >= 0.45""",
)
def incremental_release_delta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus release: diff the snapshots, re-run the
    lang-id + quality gates over ONLY added/changed documents — the
    versioned-corpus workflow that turns a full re-clean into a
    delta-sized job."""
    from stream_loader_spark.operators.versioning import incremental_release

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 13 != 3)
    new = docs.where(F.col("doc_id") % 13 != 7).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return incremental_release(old, new, min_quality=0.45)


# Dequantized-reconstruction view shared by the quantized-search oracle
# (same min-max scalar quantization as embedding_quantization).
_DEQUANT_CTE = """dq AS (
      SELECT vec_id,
             CASE WHEN scale = 0 THEN list_transform(embedding, v -> vmin)
                  ELSE list_transform(embedding,
                    v -> vmin + CAST(round((CAST(v AS DOUBLE) - vmin) / scale)
                                     AS INT) * scale)
             END AS emb
      FROM (
        SELECT vec_id, embedding,
               CAST(list_min(embedding) AS DOUBLE) AS vmin,
               (CAST(list_max(embedding) AS DOUBLE)
                - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
        FROM embeddings))"""


@query(
    "quantized_topk",
    f"""WITH {_DEQUANT_CTE},
    q AS (SELECT vec_id AS query_id, emb AS qv FROM dq WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS match_id,
             {_COSINE_SQL.format(a='e.emb', b='q.qv')} AS cosine
      FROM dq e CROSS JOIN q WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, match_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, match_id) AS rnk
      FROM scored)
    SELECT query_id, match_id, cosine, rnk FROM ranked WHERE rnk <= 5""",
)
def quantized_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized similarity search (FAISS SQ-style): exact top-5 over
    int8 reconstructions instead of raw floats — the 4×-smaller-index
    path; recall vs the float index is pinned in
    tests/test_operators.py::TestQuantizedSearch."""
    from stream_loader_spark.operators.quantize import dequantized_embeddings
    from stream_loader_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    dq = dequantized_embeddings(emb)
    return brute_force_topk(dq, query_ids=list(range(10)), k=5).withColumnRenamed(
        "rank", "rnk"
    )


@query(
    "p1_quarantine_routing",
    f"""{_KAFKA_CTE},
    c AS (
      SELECT topic,
             CASE WHEN "offset" % 17 = 0 THEN '{{' || props ELSE props END AS p
      FROM kafka),
    g AS (
      SELECT topic, COUNT(*) AS n_good,
             CAST(SUM(CAST(json_extract(p, '$.k') AS INT)) AS BIGINT) AS k_sum
      FROM c WHERE COALESCE(json_valid(p), TRUE) GROUP BY topic),
    b AS (
      SELECT topic, COUNT(*) AS n_quarantined
      FROM c WHERE json_valid(p) = false GROUP BY topic)
    SELECT topic,
           COALESCE(n_good, 0) AS n_good,
           COALESCE(k_sum, 0) AS k_sum,
           COALESCE(n_quarantined, 0) AS n_quarantined
    FROM g FULL OUTER JOIN b USING (topic)""",
)
def p1_quarantine_routing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 dead-letter split: corrupt payloads (every 17th offset gets a
    '{' prepended) route to quarantine instead of becoming silent
    all-NULL rows; good rows prove they parsed by summing the payload
    field. One parse pass, two filtered projections."""
    from stream_loader_spark.operators.projection import formatted_records_split

    rec = _events(spark, sf_dir)
    c = rec.withColumn(
        "props",
        F.when(
            F.col("offset") % 17 == 0, F.concat(F.lit("{"), F.col("props"))
        ).otherwise(F.col("props")),
    )
    good, bad = formatted_records_split(c, "k INT", materialize=True)
    g = good.groupBy("topic").agg(
        F.count(F.lit(1)).alias("n_good"), F.sum("k").alias("k_sum")
    )
    b = bad.groupBy("topic").agg(F.count(F.lit(1)).alias("n_quarantined"))
    return g.join(b, "topic", "full_outer").select(
        "topic",
        F.coalesce("n_good", F.lit(0)).alias("n_good"),
        F.coalesce("k_sum", F.lit(0)).alias("k_sum"),
        F.coalesce("n_quarantined", F.lit(0)).alias("n_quarantined"),
    )


@query(
    "cluster_label_purity",
    f"""WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 16),
    assigned AS (
      SELECT vec_id, label, centroid_id AS cluster_id FROM (
        SELECT e.vec_id, e.label, ct.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_COSINE_SQL.format(a='e.embedding', b='ct.cv')} DESC,
                          ct.centroid_id) AS arnk
        FROM embeddings e CROSS JOIN cent ct) WHERE arnk = 1),
    lab AS (
      SELECT cluster_id, label, COUNT(*) AS n_label
      FROM assigned GROUP BY cluster_id, label),
    best AS (
      SELECT cluster_id, label AS majority_label, n_label FROM (
        SELECT cluster_id, label, n_label,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                 ORDER BY n_label DESC, label) AS lrnk
        FROM lab) WHERE lrnk = 1),
    tot AS (
      SELECT cluster_id, COUNT(*) AS n_vectors FROM assigned GROUP BY cluster_id)
    SELECT t.cluster_id, t.n_vectors, b.majority_label,
           CAST(b.n_label AS DOUBLE) / t.n_vectors AS purity
    FROM tot t JOIN best b USING (cluster_id)""",
)
def cluster_label_purity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cluster composition audit (the curation view behind
    cluster-balanced data mixing): assign every vector to its nearest
    seed centroid, then per cluster report size, majority label, and
    purity. Assignment is a broadcast argmax — one corpus pass."""
    from stream_loader_spark.operators.similarity import assign_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    # label rides the assignment projection (keep_cols) — no corpus
    # self-join — and majority + total collapse into one re-aggregation
    # of the tiny per-(cluster,label) counts (max over (n, -label)
    # replaces the window), so the whole query is one linear pipeline:
    # scan → argmax projection → two small aggregates. One corpus pass,
    # two key-space-sized exchanges, no join, no window.
    assigned = assign_clusters(emb, num_centroids=16, keep_cols=("label",)).select(
        "cluster_id", "label"
    )
    lab = assigned.groupBy("cluster_id", "label").agg(F.count(F.lit(1)).alias("n_label"))
    top = F.max(F.struct(F.col("n_label"), (-F.col("label")).alias("neg_label")))
    res = lab.groupBy("cluster_id").agg(
        F.sum("n_label").alias("n_vectors"), top.alias("_top")
    )
    return res.select(
        "cluster_id",
        "n_vectors",
        (-F.col("_top.neg_label")).alias("majority_label"),
        (F.col("_top.n_label").cast("double") / F.col("n_vectors")).alias("purity"),
    )


@query(
    "semantic_dedup_keep_best",
    f"""WITH RECURSIVE {_sign_lsh_ctes()},
    good AS (
      SELECT vec_a AS doc_a, vec_b AS doc_b FROM lcand
      WHERE {_COSINE_SQL.format(a='ea', b='eb')} >= 0.35),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM good
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM good),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
    lbl AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster_id
      FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
      GROUP BY d.doc_id),
    t AS (
      SELECT doc_id,
             {_TOKENS_SQL} AS toks,
             text
      FROM documents),
    m AS (
      SELECT doc_id, len(toks) AS token_count, length(text) AS char_count,
             len(string_split_regex(text, '[.,!?;:]')) - 1 AS punct_count,
             len(list_filter(toks, x -> list_contains([{_STOP_EN}], x))) AS stop_hits
      FROM t),
    s AS (
      SELECT doc_id, token_count,
             CASE WHEN token_count > 0 THEN CAST(char_count - token_count + 1 AS DOUBLE) / token_count ELSE 0.0 END AS avg_token_len,
             CASE WHEN token_count > 0 THEN CAST(stop_hits AS DOUBLE) / token_count ELSE 0.0 END AS stopword_ratio
      FROM m),
    q AS (
      SELECT doc_id,
             LEAST(token_count / 100.0, 1.0) * 0.4
             + LEAST(stopword_ratio * 5.0, 1.0) * 0.3
             + CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 0.3 ELSE 0.0 END
               AS quality_score
      FROM s),
    ranked AS (
      SELECT l.doc_id,
             ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                ORDER BY q.quality_score DESC, l.doc_id) AS rn
      FROM lbl l JOIN q USING (doc_id))
    SELECT d.doc_id, d.lang, q.quality_score
    FROM documents d JOIN q USING (doc_id)
    WHERE d.doc_id IN (SELECT doc_id FROM ranked WHERE rn = 1)""",
)
def semantic_dedup_keep_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: embedding near-dup pairs (banded
    sign-LSH, exact cosine verify) cluster documents via their aligned
    embeddings; the highest-quality member of each semantic cluster
    survives. Text never participates in pair-finding — the similarity
    signal is entirely the embedding space."""
    from stream_loader_spark.operators.dedup import dedup_keep_best_in_cluster
    from stream_loader_spark.operators.similarity import cosine_near_dup_pairs
    from stream_loader_spark.operators.text import with_text_stats

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(
        emb, threshold=0.35, num_planes=8, num_bands=4, dim=64
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    # keep_best consumes its corpus twice (quality join, final
    # anti-join); checkpoint the narrow scored projection so the
    # regex-heavy text-stats derivation runs once, not per consumer
    scored = (
        with_text_stats(docs)
        .select("doc_id", "lang", "quality_score")
        .localCheckpoint(eager=False)
    )
    kept = dedup_keep_best_in_cluster(scored, pairs, quality_col="quality_score")
    return kept.select("doc_id", "lang", "quality_score")


@query(
    "stream_anomaly_stats",
    f"""{_KAFKA_CTE},
    a AS (
      SELECT topic,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value AS DECIMAL(19,6))
                      * CAST(value AS DECIMAL(19,6))) AS DOUBLE) AS sxx
      FROM kafka GROUP BY topic),
    st AS (
      SELECT topic, n,
             sx / CAST(n AS DOUBLE) AS m,
             CASE WHEN n > 1 AND CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN
               sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) END AS sd
      FROM a),
    z AS (
      SELECT k.topic,
             CASE WHEN st.sd IS NOT NULL AND st.sd > 0
                  THEN (CAST(k.value AS DOUBLE) - st.m) / st.sd END AS zv
      FROM kafka k JOIN st ON k.topic IS NOT DISTINCT FROM st.topic)
    SELECT topic,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN abs(zv) > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           CAST(CAST(COALESCE(MAX(abs(zv)), 0.0) AS DECIMAL(18,6)) AS DOUBLE)
             AS max_abs_z
    FROM z GROUP BY topic""",
)
def stream_anomaly_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-topic z-score outlier monitor over the Kafka-shaped stream —
    the loader-side data-quality gauge (exact-moment statistics
    broadcast back onto the record stream)."""
    from stream_loader_spark.operators.stats import stream_anomaly_stats

    rec = _events(spark, sf_dir)
    return stream_anomaly_stats(rec, "topic", "value")


@query(
    "funnel_stages",
    f"""{_KAFKA_CTE},
    firsts AS (
      SELECT CAST("offset" % 150 AS BIGINT) AS uid,
             MIN(CASE WHEN topic = 'signup' THEN ts END) AS t_signup,
             MIN(CASE WHEN topic = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN topic = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN topic = 'purchase' THEN ts END) AS t_purchase
      FROM kafka GROUP BY 1),
    staged AS (
      SELECT uid,
             CASE
               WHEN t_signup IS NULL THEN 0
               WHEN t_view IS NULL OR t_view <= t_signup THEN 1
               WHEN t_click IS NULL OR t_click <= t_view THEN 2
               WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 3
               ELSE 4 END AS stage
      FROM firsts)
    SELECT stage, COUNT(*) AS n_users
    FROM staged GROUP BY stage""",
)
def funnel_stages_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → view → click → purchase by
    FIRST occurrence): one conditional-min aggregate per user, then a
    stage bucket — two map-side-combinable aggregations, no joins, no
    windows. The uid is offset-derived so the funnel has non-trivial
    drop-off on the fixture."""
    rec = _events(spark, sf_dir)
    e = rec.withColumn("uid", (F.col("offset") % 150).cast("bigint"))
    firsts = e.groupBy("uid").agg(
        *[
            F.min(F.when(F.col("topic") == t, F.col("ts"))).alias(f"t_{t}")
            for t in ("signup", "view", "click", "purchase")
        ]
    )
    stage = (
        F.when(F.col("t_signup").isNull(), 0)
        .when(F.col("t_view").isNull() | (F.col("t_view") <= F.col("t_signup")), 1)
        .when(F.col("t_click").isNull() | (F.col("t_click") <= F.col("t_view")), 2)
        .when(
            F.col("t_purchase").isNull() | (F.col("t_purchase") <= F.col("t_click")), 3
        )
        .otherwise(4)
    )
    return (
        firsts.withColumn("stage", stage)
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "retention_cohorts",
    f"""{_KAFKA_CTE},
    e AS (SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS uid,
                 CAST(ts AS DATE) AS dt
          FROM kafka),
    cohort AS (SELECT uid, MIN(dt) AS cohort_dt FROM e GROUP BY uid),
    activity AS (
      SELECT c.cohort_dt, CAST(e.dt - c.cohort_dt AS INT) AS day_offset,
             e.uid
      FROM e JOIN cohort c USING (uid))
    SELECT cohort_dt, day_offset,
           COUNT(DISTINCT uid) AS n_active
    FROM activity WHERE day_offset <= 7 GROUP BY 1, 2""",
)
def retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-active date,
    distinct-active counts per day offset (first week); the user
    identity is the payload's k field. Cohorting is a window MIN over
    uid — ONE scan, one uid-keyed shuffle, no join. The cohort relation
    is user-count-sized, so any broadcast of it (the naive two-scan
    plan) would OOM executors at 100 TB; the window form shuffles the
    same key the join would and halves the input reads."""
    rec = _events(spark, sf_dir)
    e = rec.select(
        F.get_json_object("props", "$.k").cast("bigint").alias("uid"),
        F.to_date("ts").alias("dt"),
    )
    # Records without a parseable user id carry no cohort identity and
    # must not reach the output (the oracle's inner join drops NULL
    # uids). A pre-filter `uid IS NOT NULL` here gets predicate-pushed
    # below the projection and re-evaluates the JSON parse per row —
    # the measured plan ran get_json_object THREE times per record
    # (filter + projection + an inferred-constraint copy). Instead the
    # NULL rows ride the uid exchange into their own window partition,
    # where count(DISTINCT uid) ignores them, and the one post-
    # aggregate filter drops the only rows they can produce: groups
    # with n_active = 0 (a real uid always contributes n_active >= 1
    # to its group). One parse per record; the trade is shuffling the
    # id-less rows, the exception in an event stream keyed by k.
    activity = e.select(
        F.min("dt").over(Window.partitionBy("uid")).alias("cohort_dt"),
        "uid",
        "dt",
    ).select(
        "cohort_dt", F.datediff("dt", "cohort_dt").alias("day_offset"), "uid"
    )
    return (
        activity.where(F.col("day_offset") <= 7)
        .groupBy("cohort_dt", "day_offset")
        .agg(F.count_distinct("uid").alias("n_active"))
        .where(F.col("n_active") > 0)
    )


# ---------------------------------------------------------------------------
# Data-layout optimization (operators/layout.py)
# ---------------------------------------------------------------------------

_ZORDER_BITS = 8


def _zorder_sql(bucket_exprs: list[str], bits: int) -> str:
    """The Morton interleave as portable SQL over pre-named bucket
    expressions — the byte-identical mirror of ``zorder_value``'s
    column tree (sum of shifted bits; >> and & are plain integer ops
    in every engine)."""
    terms = []
    for i, b in enumerate(bucket_exprs):
        for bit in range(bits):
            terms.append(f"(({b} >> {bit}) & 1) * {1 << (bit * len(bucket_exprs) + i)}")
    return " + ".join(terms)


_ZO_B0 = "CAST(FLOOR((o_custkey - mn0) * 256.0 / (mx0 - mn0 + 1)) AS BIGINT)"
_ZO_B1 = "CAST(FLOOR((day_no - mn1) * 256.0 / (mx1 - mn1 + 1)) AS BIGINT)"


@query(
    "zorder_layout_orders",
    f"""WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_no
      FROM orders),
    bounds AS (
      SELECT MIN(o_custkey) AS mn0, MAX(o_custkey) AS mx0,
             MIN(day_no) AS mn1, MAX(day_no) AS mx1 FROM o),
    buck AS (
      SELECT o_orderkey, {_ZO_B0} AS b0, {_ZO_B1} AS b1
      FROM o CROSS JOIN bounds)
    SELECT o_orderkey,
           {_zorder_sql(['b0', 'b1'], _ZORDER_BITS)} AS zvalue,
           ({_zorder_sql(['b0', 'b1'], _ZORDER_BITS)}) // 4096 AS zfile
    FROM buck""",
)
def zorder_layout_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER planning pass: every order mapped to its Morton
    code over (customer, order day) and its target file (top 4 Z-bits →
    16 range-disjoint files). This is the metadata half of
    ``operators/layout.py::write_zordered`` — the rewrite that makes
    min/max file stats prune on BOTH clustering columns; checked here
    because the Z-arithmetic (equi-width buckets from exact bounds +
    bit interleave, all integer ops) must be bit-identical on any
    engine. One scan + a 1-row bounds aggregate broadcast back; no
    shuffle until the (not-checked) range exchange that lays files out."""
    from stream_loader_spark.operators.layout import zorder_value

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.unix_date(F.to_date("o_orderdate")).alias("day_no"),
    )
    z = zorder_value(o, ["o_custkey", "day_no"], bits=_ZORDER_BITS)
    return z.select(
        "o_orderkey",
        "zvalue",
        F.shiftright("zvalue", 12).alias("zfile"),
    )


@query(
    "incremental_agg_totals",
    """SELECT event_type, CAST(ts AS DATE) AS dt,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
             / CAST(COUNT(value) AS DOUBLE) AS avg_value,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events GROUP BY 1, 2""",
)
def incremental_agg_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance (operators/matview.py): per
    (event_type, day) totals built INCREMENTALLY — the input split
    into two disjoint slices, each reduced to mergeable state, the
    states folded, then finalized — checked against the oracle's
    single full-table aggregation. Equality holds because every state
    column is a commutative monoid (count/decimal-sum/min/max), which
    is exactly the property that makes delta refreshes correct at any
    batch boundary; a float sum would already disagree here."""
    from stream_loader_spark.operators.matview import (
        aggregate_state,
        finalize_aggregates,
        merge_aggregate_states,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("dt"), "value", "event_id"
    )
    # null-safe split: pmod(NULL, 2) == i is never true, so a NULL
    # event_id would vanish from BOTH slices and the merged result
    # would diverge from the oracle's full-table aggregate
    slice_of = F.coalesce(F.pmod("event_id", F.lit(2)), F.lit(0))
    slices = [
        aggregate_state(
            ev.where(slice_of == i),
            ["event_type", "dt"],
            ["value"],
        )
        for i in (0, 1)
    ]
    merged = merge_aggregate_states(slices, ["event_type", "dt"])
    return finalize_aggregates(merged, ["event_type", "dt"])


@query(
    "data_quality_report",
    """WITH agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        SUM(CASE WHEN doc_id IS NOT NULL THEN 0 ELSE 1 END) AS v_id,
        SUM(CASE WHEN text IS NOT NULL THEN 0 ELSE 1 END) AS v_text,
        SUM(CASE WHEN lang IS NULL OR lang IN ('en','de','fr','es') THEN 0 ELSE 1 END) AS v_lang,
        SUM(CASE WHEN n_chars IS NULL OR (n_chars >= 0 AND n_chars <= 500) THEN 0 ELSE 1 END) AS v_len,
        SUM(CASE WHEN source IS NULL OR regexp_matches(source, 'src[0-9]+') THEN 0 ELSE 1 END) AS v_src,
        SUM(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END) AS v_consistent
      FROM documents)
    SELECT chk AS "check", n_rows, CAST(v AS BIGINT) AS n_violations,
           CAST(n_rows - v AS DOUBLE) / CAST(n_rows AS DOUBLE) AS pass_rate
    FROM agg, LATERAL (VALUES
      ('doc_id_not_null', v_id), ('text_not_null', v_text),
      ('lang_known', v_lang), ('n_chars_in_range', v_len),
      ('source_format', v_src), ('n_chars_consistent', v_consistent)) AS t(chk, v)""",
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation report over the documents corpus: six declared
    checks (null guards, value domain, range, format regex, and a
    cross-column consistency invariant), each a conditional SUM inside
    ONE hash aggregate — a single corpus pass regardless of how many
    expectations a deployment declares. NULL predicate results count
    as violations (an unevaluable check must not silently pass). The
    'lang_known' and 'n_chars_in_range' checks fail on real fixture
    rows (zh docs; long docs), so the report is exercised non-trivially."""
    from stream_loader_spark.operators.quality import (
        in_range,
        matches,
        not_null,
        one_of,
        quality_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    return quality_report(
        docs,
        {
            "doc_id_not_null": not_null("doc_id"),
            "text_not_null": not_null("text"),
            "lang_known": one_of("lang", ["en", "de", "fr", "es"]),
            "n_chars_in_range": in_range("n_chars", 0, 500),
            "source_format": matches("source", "src[0-9]+"),
            "n_chars_consistent": F.col("n_chars") == F.length("text"),
        },
    )


@query(
    "gap_filled_user_daily",
    """WITH e AS (
      SELECT user_id, CAST(ts AS DATE) AS dt, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events WHERE user_id < 50 GROUP BY 1, 2),
    spans AS (SELECT user_id, MIN(dt) AS d0, MAX(dt) AS d1 FROM e GROUP BY 1),
    cal AS (
      SELECT user_id,
             CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS dt
      FROM spans)
    SELECT c.user_id, c.dt, CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
           e.n_events IS NULL AS filled
    FROM cal c LEFT JOIN e ON e.user_id = c.user_id AND e.dt = c.dt""",
)
def gap_filled_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification (operators/timeseries.py): per-user
    daily event counts over each user's observed span with calendar
    gaps filled as explicit zero rows (160 real gaps at sf0.01 — the
    fixture exercises the fill, not just the passthrough). The grid is
    generated per key from a span aggregate + sequence/explode — work
    proportional to the OUTPUT grid, never a global calendar cross
    join. Restricted to 50 users so the checked grid stays small; the
    operator itself keys on anything."""
    from stream_loader_spark.operators.timeseries import gap_fill_daily
    from stream_loader_spark.sources.kafka_view import event_ts_col

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("user_id") < 50)
        .groupBy("user_id", F.to_date(event_ts_col(ev)).alias("dt"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return gap_fill_daily(daily, ["user_id"], "dt", ["n_events"], fill="zero")


@query(
    "hll_union_daily_users",
    f"""{_KAFKA_CTE}
    SELECT topic,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_sketches,
           CAST(COUNT(DISTINCT value) AS BIGINT) AS distinct_exact,
           COUNT(DISTINCT value) >= 0 AS within_tolerance
    FROM kafka GROUP BY topic""",
)
def hll_union_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct sketches (operators/sketches.py): one HLL
    sketch per (topic, day) — the stored layer — unioned per topic and
    estimated, next to the exact count. The checked bit is the
    within-tolerance contract (|union-estimate − exact|/exact ≤ 0.05;
    lg_k=14 ≈ 0.8% rsd); the oracle derives constant TRUE from exact
    counts, so a red row means the merged sketch drifted outside its
    advertised error. This is the arbitrary-date-range distinct-count
    pattern at 100 TB: rollups merge kilobyte sketches, never re-scan
    the corpus."""
    from stream_loader_spark.operators.sketches import (
        daily_hll_sketches,
        hll_union_estimate,
    )

    rec = _events(spark, sf_dir)
    daily = daily_hll_sketches(
        rec,
        "topic",
        F.to_date("ts").alias("dt"),
        # sketch input must be int/string/binary; the string cast is
        # injective on distinct doubles, so the distinct count is the same
        F.col("value").cast("string"),
    )
    union = hll_union_estimate(daily, "topic")
    exact = rec.groupBy("topic").agg(
        F.count_distinct("value").alias("distinct_exact")
    )
    return union.join(exact, "topic").select(
        "topic",
        F.col("n_sketches").cast("bigint").alias("n_sketches"),
        "distinct_exact",
        (
            F.abs(F.col("distinct_approx") - F.col("distinct_exact"))
            / F.col("distinct_exact")
            <= 0.05
        ).alias("within_tolerance"),
    )


@query(
    "theta_retention_overlap",
    f"""{_KAFKA_CTE},
    e AS (SELECT topic, value, CAST(ts AS DATE) AS dt FROM kafka
          WHERE value IS NOT NULL),
    m AS (SELECT topic, MIN(dt) + CAST((MAX(dt) - MIN(dt)) // 2 AS INTEGER) AS mid
          FROM e GROUP BY 1),
    f AS (SELECT e.topic, e.value,
                 MAX(e.dt <= m.mid) AS ia, MAX(e.dt > m.mid) AS ib
          FROM e JOIN m USING (topic) GROUP BY 1, 2)
    SELECT topic,
           CAST(SUM(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT) AS overlap_exact,
           TRUE AS within_tolerance
    FROM f GROUP BY topic""",
)
def theta_retention_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra: distinct users active in BOTH halves
    of each topic's date span (retention overlap) — two sketch
    aggregates over one scan and one intersection per topic, instead
    of shuffling every (user, period) pair. The per-topic midpoint is
    a topic-count-sized relation broadcast back. Checked via the
    within-tolerance contract against the exact both-sides count
    (tolerance 0.05; zero-overlap topics require approx 0)."""
    from stream_loader_spark.operators.sketches import theta_period_overlap

    rec = _events(spark, sf_dir)
    # NULL values: theta_sketch_agg skips NULL inputs while the exact
    # per-(topic, value) rollup would keep a NULL group — filter them
    # out of BOTH sides (a NULL user id is not a user) so exact and
    # approx count the same population on every engine.
    e = rec.where(F.col("value").isNotNull()).select(
        "topic", "value", F.to_date("ts").alias("dt")
    )
    mid = e.groupBy("topic").agg(
        F.date_add(
            F.min("dt"), F.floor(F.datediff(F.max("dt"), F.min("dt")) / 2).cast("int")
        ).alias("mid")
    )
    em = e.join(F.broadcast(mid), "topic")
    approx = theta_period_overlap(em, "topic", F.col("dt"), "value", F.col("mid"))
    flags = em.groupBy("topic", "value").agg(
        F.max(F.col("dt") <= F.col("mid")).alias("ia"),
        F.max(F.col("dt") > F.col("mid")).alias("ib"),
    )
    exact = flags.groupBy("topic").agg(
        F.sum(F.when(F.col("ia") & F.col("ib"), 1).otherwise(0))
        .cast("bigint")
        .alias("overlap_exact")
    )
    return approx.join(exact, "topic").select(
        "topic",
        "overlap_exact",
        F.when(
            F.col("overlap_exact") == 0, F.col("overlap_approx") == 0
        )
        .otherwise(
            F.abs(F.col("overlap_approx") - F.col("overlap_exact"))
            / F.col("overlap_exact")
            <= 0.05
        )
        .alias("within_tolerance"),
    )


@query(
    "kll_merged_median",
    f"""{_KAFKA_CTE}
    SELECT topic, CAST(COUNT(value) AS BIGINT) AS n_values,
           TRUE AS within_tolerance
    FROM kafka GROUP BY topic""",
)
def kll_merged_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantiles (operators/sketches.py): daily KLL(double)
    sketches per topic, merged, median read from the merged sketch.
    Checked facts: the merged sketch's tracked stream length equals
    the exact value count (KLL tracks n exactly — an integrity bit,
    not an estimate), and the sketch median's TRUE rank — counted
    exactly against the raw values on the same scan — lies within the
    sketch's advertised rank-error band around 0.5 (k=200 ⇒ ±1.65%;
    checked at ±0.15 for cross-day merge headroom). The oracle derives
    constant TRUE, so a red row means the merged sketch broke its
    rank guarantee."""
    from stream_loader_spark.operators.sketches import (
        daily_kll_sketches,
        kll_merged_quantiles,
    )

    rec = _events(spark, sf_dir)
    daily = daily_kll_sketches(rec, "topic", F.to_date("ts").alias("dt"), "value")
    q = kll_merged_quantiles(daily, "topic", [0.5])
    ranks = (
        rec.join(F.broadcast(q.select("topic", "q50")), "topic")
        .groupBy("topic")
        .agg(
            (
                F.sum(F.when(F.col("value") <= F.col("q50"), 1).otherwise(0))
                .cast("double")
                / F.count("value").cast("double")
            ).alias("rank_of_median")
        )
    )
    return (
        q.join(ranks, "topic")
        .select(
            "topic",
            F.col("n_values").cast("bigint").alias("n_values"),
            (
                (F.col("rank_of_median") >= 0.35) & (F.col("rank_of_median") <= 0.65)
            ).alias("within_tolerance"),
        )
    )


@query(
    "kll_exact_quantiles",
    f"""{_KAFKA_CTE}
    SELECT topic,
           CAST(COUNT(value) AS BIGINT) AS n_values,
           quantile_disc(value, 0.25) AS q25,
           quantile_disc(value, 0.5) AS q50,
           quantile_disc(value, 0.9) AS q90
    FROM kafka WHERE value IS NOT NULL GROUP BY topic""",
)
def kll_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL in its EXACT regime: with k ≥ the group's value count the
    sketch retains every item, and its inclusive-rank quantile rule
    (smallest item whose ≤-rank covers q) coincides with SQL
    ``quantile_disc`` — so unlike the tolerance-checked sketch queries
    this one hash-matches an exact oracle VALUE-for-value. k=32768
    covers the per-topic counts through sf0.1 (max ~20.3k); past the
    exact regime the right tool is ``kll_merged_median``'s
    rank-error contract, not this query. The point being pinned:
    the sketch path degrades to exact answers on small groups, so a
    rollup can use ONE code path for both the kilobyte-sketch 100 TB
    shape and exact small-table reads."""
    from stream_loader_spark.operators.sketches import kll_merged_quantiles

    rec = _events(spark, sf_dir).where(F.col("value").isNotNull())
    sk = rec.groupBy("topic").agg(
        F.kll_sketch_agg_double(F.col("value").cast("double"), F.lit(32768)).alias(
            "sketch"
        )
    )
    out = kll_merged_quantiles(sk, "topic", [0.25, 0.5, 0.9])
    return out.select(
        "topic",
        F.col("n_values").cast("bigint").alias("n_values"),
        "q25",
        "q50",
        "q90",
    )


@query(
    "props_variant_rollup",
    f"""{_KAFKA_CTE}
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM("offset") AS BIGINT) AS sum_offsets
    FROM kafka
    WHERE json_extract(props, '$.k') IS NOT NULL
    GROUP BY 1""",
)
def props_variant_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads through Spark 4's VARIANT type:
    ``parse_json`` once into an open-schema variant column, typed
    extraction via ``variant_get`` path queries, then a normal rollup.
    This is the P1-adjacent path for payloads whose schema is NOT
    declared up front (from_json needs one; variant defers typing to
    the read site) — the right shape for loaders that land
    heterogeneous JSON and let consumers impose structure later.
    Oracle uses plain json_extract: the values must agree regardless
    of which engine-side JSON representation is used."""
    rec = _events(spark, sf_dir)
    v = rec.select(
        "offset", F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k")
    )
    return (
        v.where(F.col("k").isNotNull())
        .groupBy(F.pmod("k", F.lit(10)).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("offset").cast("bigint").alias("sum_offsets"),
        )
    )


@query(
    "weighted_sample_docs",
    """WITH p AS (
      SELECT doc_id, n_chars,
             ROUND(-ln(((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 268435456
                     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16777216
                     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 1048576
                     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 65536
                     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 4096
                     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * 256
                     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 8, 1)) - 1) * 1 + 1.0)
                       / 4294967296.0)
                   / CAST(n_chars AS DOUBLE), 9) AS priority
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, n_chars, priority
    FROM p ORDER BY priority, doc_id LIMIT 50""",
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (A-ES): 50 documents drawn
    with inclusion probability tracking length (n_chars as the
    weight) — the deterministic form of the weighted mixture draws
    training pipelines use for source blending. Priority is a pure
    function of the doc id (md5-derived uniform), so the sample is
    identical across engines/reruns; the top-k compiles to
    TakeOrderedAndProject (per-partition heaps, k-sized driver merge —
    never a global sort)."""
    from stream_loader_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, 50, "doc_id", "n_chars")


@query(
    "gopher_quality_flags",
    f"""WITH t AS (
      SELECT doc_id, text,
             {_TOKENS_SQL} AS toks
      FROM documents),
    m AS (
      SELECT doc_id,
             len(toks) AS word_count,
             COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS len_sum,
             (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3 AS symbols,
             len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_words,
             len(list_filter(toks, t -> list_contains([{_STOP_EN}], t))) AS stop_hits
      FROM t),
    s AS (
      SELECT doc_id, word_count,
             CASE WHEN word_count > 0 THEN CAST(len_sum AS DOUBLE) / word_count ELSE 0.0 END AS mean_word_len,
             CASE WHEN word_count > 0 THEN CAST(symbols AS DOUBLE) / word_count ELSE 0.0 END AS symbol_word_ratio,
             CASE WHEN word_count > 0 THEN CAST(alpha_words AS DOUBLE) / word_count ELSE 0.0 END AS alpha_word_ratio,
             stop_hits
      FROM m)
    SELECT doc_id, word_count, mean_word_len, symbol_word_ratio, alpha_word_ratio, stop_hits,
           word_count >= 50 AND word_count <= 100000 AS flag_word_count,
           mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS flag_mean_word_len,
           symbol_word_ratio <= 0.1 AS flag_symbol_ratio,
           alpha_word_ratio >= 0.8 AS flag_alpha_ratio,
           stop_hits >= 2 AS flag_stopwords,
           (word_count >= 50 AND word_count <= 100000)
             AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
             AND symbol_word_ratio <= 0.1
             AND alpha_word_ratio >= 0.8
             AND stop_hits >= 2 AS keep
    FROM s""",
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule heuristic quality gate (per-rule verdicts + keep)."""
    from stream_loader_spark.operators.text import with_gopher_flags

    docs = load_table(spark, sf_dir, "documents")
    return with_gopher_flags(docs)


@query(
    "frequent_tokens",
    """WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token
      FROM documents WHERE len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) > 0)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM tok GROUP BY token HAVING COUNT(*) >= 100""",
)
def frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide frequent tokens through the bounded-memory
    two-phase plan (per-partition Misra-Gries candidates via one
    Arrow-batched pass, then an exact recount of the candidate set) —
    shuffle and executor memory stay O(partitions x capacity) at any
    vocabulary size, unlike the oracle's vocabulary-sized GROUP BY."""
    from stream_loader_spark.operators.text import approx_frequent_tokens

    docs = load_table(spark, sf_dir, "documents")
    return approx_frequent_tokens(docs, min_count=100, capacity=65536)


@query(
    "label_centroids",
    """WITH x AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS micro
      FROM embeddings),
    s AS (SELECT label, pos, COUNT(*) AS n, SUM(micro) AS sm FROM x GROUP BY 1, 2),
    m AS (SELECT label, pos, n, CAST(sm AS DOUBLE) / n / 1000000 AS mean FROM s),
    g AS (SELECT label, MAX(n) AS n_vecs, CAST(COUNT(*) AS BIGINT) AS dim,
                 list(mean ORDER BY pos) AS c
          FROM m GROUP BY label)
    SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs, dim,
           ROUND(sqrt(list_sum(list_transform(c, v -> v * v))), 6) AS centroid_norm,
           ROUND(c[1], 6) AS c0
    FROM g""",
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class mean embeddings (class centroids) under the exact
    integer-micro contract: floor-quantized element sums make the
    centroid identical on every engine and partitioning; norm and
    first component are index-ordered folds of the result. One
    posexplode pass, shuffle = labels x dim rows."""
    from stream_loader_spark.operators.similarity import group_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cg = group_centroids(emb)
    return cg.select(
        "label",
        "n_vecs",
        "dim",
        F.round(
            F.sqrt(
                F.aggregate(
                    "centroid", F.lit(0.0), lambda acc, v: acc + v * v
                )
            ),
            6,
        ).alias("centroid_norm"),
        F.round(F.element_at("centroid", 1), 6).alias("c0"),
    )


_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")
_PROFILE_AGG_SQL = ",\n      ".join(
    f"""CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_{c},
      CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c},
      CAST(MIN({c}) AS VARCHAR) AS min_{c},
      CAST(MAX({c}) AS VARCHAR) AS max_{c}"""
    for c in _PROFILE_COLS
)
_PROFILE_VALUES_SQL = ",\n      ".join(
    f"('{c}', nulls_{c}, nd_{c}, min_{c}, max_{c})" for c in _PROFILE_COLS
)


@query(
    "profile_documents",
    f"""WITH a AS (SELECT
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      {_PROFILE_AGG_SQL}
      FROM documents)
    SELECT col_name, n_rows, n_nulls, n_distinct, min_val, max_val
    FROM a, LATERAL (VALUES
      {_PROFILE_VALUES_SQL}) AS t(col_name, n_nulls, n_distinct, min_val, max_val)""",
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card: one row per column with null count, exact
    distinct count, and min/max — the profile every dataset release
    ships with. ONE aggregation pass over the scan (the multiple
    DISTINCTs plan through a single Expand), then a constant-width
    stack; adding columns never adds scans."""
    docs = load_table(spark, sf_dir, "documents")
    cols = list(_PROFILE_COLS)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"nulls_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"min_{c}"),
            F.max(c).cast("string").alias(f"max_{c}"),
        ]
    one = docs.agg(*aggs)
    stack = "stack({}, {}) as (col_name, n_nulls, n_distinct, min_val, max_val)".format(
        len(cols),
        ", ".join(f"'{c}', nulls_{c}, nd_{c}, min_{c}, max_{c}" for c in cols),
    )
    return one.select("n_rows", F.expr(stack)).select(
        "col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val"
    )


@query(
    "hierarchy_rollup",
    """WITH RECURSIVE sub(root, node, bal, lvl) AS (
      SELECT c_custkey, c_custkey, c_acctbal, 0 FROM customer
      UNION ALL
      SELECT s.root, c.c_custkey, c.c_acctbal, s.lvl + 1
      FROM sub s JOIN customer c
        ON (c.c_custkey // 2) = s.node AND c.c_custkey > s.node
    )
    SELECT root AS c_custkey, CAST(COUNT(*) AS BIGINT) AS subtree_size,
           CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS subtree_balance,
           CAST(MAX(lvl) AS BIGINT) AS subtree_depth
    FROM sub GROUP BY root""",
)
def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree rollup over the implicit heap hierarchy (parent =
    custkey div 2): per node, the size, exact-decimal balance, and
    depth of its whole subtree.

    Closed-form ancestors instead of iteration: because ancestry is
    COMPUTABLE (node's level-k ancestor is ``shiftright(key, k)``, and
    custkeys are contiguous so every ancestor exists), each row emits
    its own ≤ log2(N) (ancestor, level) pairs in one generator pass and
    a single hash aggregate rolls them up — one shuffle total. The
    WITH RECURSIVE formulation (kept verbatim as the DuckDB oracle, a
    genuinely independent derivation of the same answer) runs one
    Spark job per level: log2(N) sequential joins whose per-level
    scheduling floor dominated the bench 37× over DuckDB. Iteration is
    for pointer-chasing hierarchies where parents must be LOOKED UP —
    that surface stays covered by ``region_chain_rollup``. Balances
    sum as DECIMAL(18,2) so the result is reduction-order independent;
    the depth cap 40 covers custkeys to 2^40 (any conceivable SF).

    Key 0 (the fixtures' custkeys start at 0) is the hierarchy's global
    root: every key ≥ 1 halves down to 1 and then to 0, so 0 ancestors
    everything. The filter keeps each key's FIRST zero ancestor (the
    step after the highest set bit, ``shiftright(key, k-1) = 1``) and
    drops the repeating zeros the fixed-length sequence generates after
    it — emitting 0 once per key, exactly like the recursive chain."""
    ancestors = load_table(spark, sf_dir, "customer").selectExpr(
        "c_acctbal",
        # CAST to BIGINT before shifting: Spark's shiftright inherits
        # Java shift-count masking, so an IntegerType key would wrap at
        # k >= 32 (shiftright(x, 32) = x) and emit spurious duplicate
        # ancestors at levels 32-40; the 64-bit shift is safe to 40.
        """explode(
             filter(
               transform(sequence(0, 40),
                         k -> named_struct(
                           'root', shiftright(CAST(c_custkey AS BIGINT), k),
                           'lvl', k)),
               s -> s.root >= 1 OR s.lvl = 0
                    OR shiftright(CAST(c_custkey AS BIGINT), s.lvl - 1) = 1)
           ) AS a""",
    )
    return (
        ancestors.groupBy(F.col("a.root").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("subtree_size"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("subtree_balance"),
            F.max("a.lvl").cast("bigint").alias("subtree_depth"),
        )
        .select("c_custkey", "subtree_size", "subtree_balance", "subtree_depth")
    )


_REGION_CHAIN_EDGES_SQL = """SELECT CAST(100 + n_nationkey AS BIGINT) AS node,
             CAST(n_regionkey AS BIGINT) AS parent FROM {nation}
      UNION ALL
      SELECT CAST(10000 + s_suppkey AS BIGINT),
             CAST(100 + s_nationkey AS BIGINT) FROM {supplier}"""

_REGION_CHAIN_SQL = """WITH RECURSIVE chain(root, node, lvl) AS (
      SELECT CAST(r_regionkey AS BIGINT), CAST(r_regionkey AS BIGINT), 0
      FROM {region}
      UNION ALL
      SELECT c.root, e.node, c.lvl + 1
      FROM chain c JOIN {edges} e ON e.parent = c.node
    )
    SELECT root AS r_regionkey, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MAX(lvl) AS BIGINT) AS max_depth
    FROM chain GROUP BY root"""


@query(
    "region_chain_rollup",
    _REGION_CHAIN_SQL.format(
        region="region",
        edges="({})".format(
            _REGION_CHAIN_EDGES_SQL.format(nation="nation", supplier="supplier")
        ),
    ),
)
def region_chain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE descent (Spark 4 WITH RECURSIVE) over a genuinely
    pointer-chasing hierarchy: region → nation → supplier edges where
    each parent must be LOOKED UP, not computed — the case iteration
    exists for (closed-form ancestry like ``hierarchy_rollup``'s heap
    is rewritten to one generator pass instead). Per region root: the
    descendant count and max depth. Depth is bounded by the edge
    structure (3 levels), so the per-level job scheduling cost is a
    constant, not a data-scale function; each level is one equi-join
    on the parent key. Node ids are offset into disjoint bigint ranges
    so the three entity keyspaces cannot collide. The edge table is
    materialized ONCE (localCheckpoint) before the recursion: inlining
    it re-scans nation+supplier parquet at every iteration, tripling
    the per-level floor for a relation the recursion never changes."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("sl_chain_n")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("sl_chain_s")
    load_table(spark, sf_dir, "region").createOrReplaceTempView("sl_chain_r")
    edges = spark.sql(
        _REGION_CHAIN_EDGES_SQL.format(nation="sl_chain_n", supplier="sl_chain_s")
    ).localCheckpoint(eager=True)
    edges.createOrReplaceTempView("sl_chain_edges")
    return spark.sql(
        _REGION_CHAIN_SQL.format(region="sl_chain_r", edges="sl_chain_edges")
    )


@query(
    "lateral_top_orders",
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    WHERE c.c_mktsegment = 'BUILDING'""",
)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 orders per BUILDING customer.
    Catalyst de-correlates this into the same ranked-join shape as the
    window form — the point is SQL-surface parity (LATERAL is how
    per-row 'look up the best matches' queries arrive from users), with
    deterministic ties via the unique order key."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("sl_c")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sl_o")
    return spark.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM sl_c c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM sl_o o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'"""
    )


def _md5_nibbles_sql(e: str, n: int) -> str:
    """First ``n`` md5 hex nibbles of expression ``e`` as an integer —
    the strpos arithmetic every engine evaluates identically (the
    DuckDB twin of Spark's ``conv(substring(md5(e), 1, n), 16, 10)``)."""
    terms = [
        f"(strpos('0123456789abcdef', substr(md5({e}), {i + 1}, 1)) - 1)"
        f" * {16 ** (n - 1 - i)}"
        for i in range(n)
    ]
    return "(" + "\n               + ".join(terms) + ")"


_DSIR_TARGET_SQL = "source IN ('src0', 'src1', 'src2', 'src3')"


def _dsir_ctes(target_pred: str = _DSIR_TARGET_SQL) -> str:
    """CTE chain ending in ``dsir(doc_id, n_features, logratio)`` — the
    hashed-n-gram DSIR log-likelihood-ratio score (Xie et al. 2023),
    bit-for-bit the arithmetic of ``operators.dsir.dsir_logratio``:
    unigram+bigram features hashed to 4096 md5 buckets, add-one-smoothed
    target/raw distributions, per-bucket ln-ratios rounded to 6 decimals
    and summed as exact decimals."""
    bucket = _md5_nibbles_sql("f", 3)
    return f"""dt AS (
      SELECT doc_id, {target_pred} AS is_target,
             {_TOKENS_SQL} AS toks
      FROM documents),
    dfeat AS (
      SELECT doc_id, is_target,
             unnest(list_concat(toks,
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i + 1]))) AS f
      FROM dt),
    dbc AS MATERIALIZED (
      SELECT doc_id, is_target, {bucket} AS bucket, COUNT(*) AS tc
      FROM dfeat GROUP BY 1, 2, 3),
    draw AS (SELECT bucket, SUM(tc) AS cr FROM dbc GROUP BY 1),
    dtgt AS (SELECT bucket, SUM(tc) AS ct FROM dbc WHERE is_target GROUP BY 1),
    ddist AS (
      SELECT r.bucket, r.cr, COALESCE(t.ct, 0) AS ct
      FROM draw r LEFT JOIN dtgt t USING (bucket)),
    dtot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM ddist),
    dlp AS (
      SELECT bucket,
             CAST(ROUND(ln(CAST(ct + 1 AS DOUBLE) / (tt + 4096))
                      - ln(CAST(cr + 1 AS DOUBLE) / (tr + 4096)), 6)
                  AS DECIMAL(18,6)) AS lp
      FROM ddist CROSS JOIN dtot),
    dsir AS (
      SELECT d.doc_id,
             CAST(SUM(d.tc) AS BIGINT) AS n_features,
             CAST(CAST(SUM(l.lp * d.tc) AS DECIMAL(38,6)) AS DOUBLE) AS logratio
      FROM dbc d JOIN dlp l USING (bucket)
      GROUP BY d.doc_id)"""


@query(
    "dsir_logratio_scores",
    f"""WITH {_dsir_ctes()}
    SELECT doc_id, n_features, logratio FROM dsir""",
)
def dsir_logratio_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance score per document: summed hashed-n-gram
    log-likelihood ratio between a TARGET subset's feature distribution
    (here sources src0-src3, the 'curated' 20%) and the raw corpus's —
    the data-selection signal of Xie et al. 2023. One corpus-sized
    shuffle (per-doc bucket counts); both distributions are ≤4096 rows,
    so scoring is a broadcast join."""
    from stream_loader_spark.operators.dsir import dsir_logratio

    docs = load_table(spark, sf_dir, "documents")
    return dsir_logratio(
        docs, is_target=F.col("source").isin("src0", "src1", "src2", "src3")
    )


@query(
    "dsir_gumbel_topk",
    f"""WITH {_dsir_ctes()},
    dg AS (
      SELECT doc_id, n_features, logratio,
             ROUND(logratio + ROUND(-ln(-ln(
               ({_md5_nibbles_sql("'dsir' || CAST(doc_id AS VARCHAR)", 8)} + 0.5)
                 / 4294967296.0)), 9), 9) AS gumbel_key
      FROM dsir)
    SELECT doc_id, n_features, logratio, gumbel_key
    FROM dg ORDER BY gumbel_key DESC, doc_id LIMIT 50""",
)
def dsir_gumbel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: top-50 documents by score + Gumbel(0,1) noise —
    sampling WITHOUT replacement proportional to exp(logratio), entirely
    in log space. The Gumbel draw is a pure function of (salt, doc_id),
    so the sample is reproducible across engines; the top-k compiles to
    TakeOrderedAndProject (per-partition heaps, k-sized driver merge)."""
    from stream_loader_spark.operators.dsir import dsir_logratio, gumbel_topk

    docs = load_table(spark, sf_dir, "documents")
    scores = dsir_logratio(
        docs, is_target=F.col("source").isin("src0", "src1", "src2", "src3")
    )
    return gumbel_topk(scores, 50, salt="dsir")


@query(
    "leakage_free_splits",
    f"""WITH RECURSIVE {_jaccard_pairs_ctes()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM good
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM good),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
    labels AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src),
    lab AS (
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN labels l USING (doc_id)),
    lb AS (
      SELECT doc_id, cluster_id,
             {_MD5_BUCKET_SQL.format(e="'split' || CAST(cluster_id AS VARCHAR)")} AS bkt
      FROM lab)
    SELECT doc_id, cluster_id,
           CASE WHEN bkt < 204 THEN 'train'
                WHEN bkt < 230 THEN 'validation'
                ELSE 'test' END AS split
    FROM lb""",
)
def leakage_free_splits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test assignment: every near-dup CLUSTER
    lands wholly in one split (the split hashes the cluster label, not
    the document id), closing the eval-contamination vector a plain
    per-document hash split leaves open. Oracle: the exhaustive Jaccard
    pair set closed transitively with a recursive CTE labels each node
    with its min reachable id — min-label propagation's fixpoint — then
    the same md5 bucket arithmetic assigns the split."""
    from stream_loader_spark.operators.sampling import leakage_free_splits

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    return leakage_free_splits(docs, pairs)


@query(
    "perplexity_buckets",
    """WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token
      FROM documents WHERE len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) > 0),
    freq AS MATERIALIZED (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq),
    scored AS (
      SELECT t.doc_id,
             CAST(ROUND(ln(CAST(f.c AS DOUBLE) / n), 6) AS DECIMAL(18,6)) AS lp
      FROM tok t JOIN freq f USING (token) CROSS JOIN tot),
    doclp AS (
      SELECT doc_id,
             -(CAST(CAST(SUM(lp) AS DECIMAL(38,6)) AS DOUBLE) / COUNT(*)) AS ppl
      FROM scored GROUP BY doc_id),
    p AS (
      SELECT d.doc_id, d.lang, s.ppl FROM doclp s JOIN documents d USING (doc_id)),
    hist AS (SELECT lang, ppl, COUNT(*) AS c FROM p GROUP BY 1, 2),
    cum AS (
      SELECT lang, ppl,
             SUM(c) OVER (PARTITION BY lang ORDER BY ppl) AS cum,
             SUM(c) OVER (PARTITION BY lang) AS tot
      FROM hist),
    cuts AS (
      SELECT lang,
             MIN(CASE WHEN cum >= tot / 3.0 THEN ppl END) AS cut1,
             MIN(CASE WHEN cum >= (tot * 2) / 3.0 THEN ppl END) AS cut2
      FROM cum GROUP BY lang)
    SELECT p.doc_id, p.lang,
           CASE WHEN p.ppl <= cut1 THEN 'head'
                WHEN p.ppl <= cut2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM p JOIN cuts USING (lang)""",
)
def perplexity_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: head/middle/tail by where each
    document's unigram-LM score falls within its LANGUAGE's distribution
    — exact discrete terciles from a per-(lang, score) histogram (no
    global sort), reproducible bit-for-bit by the SQL oracle."""
    from stream_loader_spark.operators.text import perplexity_buckets

    docs = load_table(spark, sf_dir, "documents")
    return perplexity_buckets(docs)


@query(
    "fuzzy_part_matches",
    """WITH vals AS (SELECT DISTINCT p_brand, p_name FROM part),
    cand AS (
      SELECT a.p_brand, a.p_name AS value_a, b.p_name AS value_b,
             levenshtein(a.p_name, b.p_name) AS lev_dist
      FROM vals a JOIN vals b ON a.p_brand = b.p_brand AND a.p_name <= b.p_name
      WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
        AND levenshtein(a.p_name, b.p_name) <= 2)
    SELECT l.p_partkey AS part_a, r.p_partkey AS part_b,
           c.value_a AS name_a, c.value_b AS name_b, c.lev_dist
    FROM cand c
    JOIN part l ON l.p_brand = c.p_brand AND l.p_name = c.value_a
    JOIN part r ON r.p_brand = c.p_brand AND r.p_name = c.value_b
    WHERE c.value_a < c.value_b OR l.p_partkey < r.p_partkey""",
)
def fuzzy_part_matches_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked fuzzy join: part-name pairs within
    2 Levenshtein edits inside a brand block. Distances are computed
    once per distinct (brand, name) pair — the quadratic runs over
    distinct values, the row expansion is two hash joins — with the
    lossless length-band prune ahead of the JVM-side distance kernel
    (operators/fuzzy.py)."""
    from stream_loader_spark.operators.fuzzy import blocked_fuzzy_pairs

    part = load_table(spark, sf_dir, "part")
    pairs = blocked_fuzzy_pairs(
        part, id_col="p_partkey", value_col="p_name",
        block_cols=["p_brand"], max_distance=2,
    )
    return pairs.select(
        F.col("id_a").alias("part_a"),
        F.col("id_b").alias("part_b"),
        F.col("value_a").alias("name_a"),
        F.col("value_b").alias("name_b"),
        "lev_dist",
    )


@query(
    "embedding_covariance_block",
    """WITH u AS (
      SELECT vec_id,
             CAST(ROUND(embedding[i + 1] * 1000000, 0) AS BIGINT) AS xs,
             CAST(i AS INTEGER) AS i
      FROM embeddings, (SELECT UNNEST(range(24)) AS i)),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
    s AS (SELECT i, CAST(SUM(xs) AS DOUBLE) AS s FROM u GROUP BY i),
    x AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.xs * b.xs) AS DOUBLE) AS sxx
          FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.i >= a.i
          GROUP BY a.i, b.i)
    SELECT x.i AS i, x.j AS j,
           CAST(CAST((x.sxx / 1e12 - (s1.s / 1e6) * (s2.s / 1e6) / nn.n) / nn.n
                AS DECIMAL(18,6)) AS DOUBLE) AS cov
    FROM x JOIN s s1 ON s1.i = x.i JOIN s s2 ON s2.i = x.j CROSS JOIN nn""",
)
def embedding_covariance_block_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance of the first 24 embedding dims (the whitening/PCA
    primitive under SemDeDup-style semantic dedup), upper triangle as
    (i, j, cov). One pass of per-partition integer sufficient statistics
    (Arrow-batched, dim^2 longs per partition) + an exact long combine —
    the treeAggregate shape that holds at any corpus size, vs the
    oracle's row-pair expansion (operators/embstats.py)."""
    from stream_loader_spark.operators.embstats import embedding_covariance

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, dim=24)


@query(
    "fuzzy_customer_supplier_links",
    """SELECT c.c_custkey AS id_a, s.s_suppkey AS id_b,
           c.c_name AS value_a, s.s_name AS value_b,
           levenshtein(c.c_name, s.s_name) AS lev_dist
    FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
    WHERE abs(length(c.c_name) - length(s.s_name)) <= 6
      AND levenshtein(c.c_name, s.s_name) <= 6""",
)
def fuzzy_customer_supplier_links_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-registry entity linkage: customer names matched to supplier
    names within 6 edits inside a nation block (two-table variant of the
    blocked fuzzy join — operators/fuzzy.py::blocked_fuzzy_join). The
    blocking key bounds the candidate quadratic; the distance kernel is
    the JVM-side levenshtein expression."""
    from stream_loader_spark.operators.fuzzy import blocked_fuzzy_join

    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier").withColumnRenamed(
        "s_nationkey", "c_nationkey"
    )
    # names are unique per row: distinct-value compression buys
    # nothing here, so take the direct one-join plan
    return blocked_fuzzy_join(
        cust, supp,
        left_id="c_custkey", right_id="s_suppkey",
        left_value="c_name", right_value="s_name",
        block_cols=["c_nationkey"], max_distance=6, compress=False,
    )


@query(
    "multimodal_resize",
    """WITH ascii_img AS (
      SELECT doc_id, text, strlen(text) AS len FROM documents
      WHERE strlen(text) = length(text) AND doc_id % 3 = 0 AND strlen(text) >= 1),
    dims AS (
      SELECT doc_id, text, len,
             CAST(floor(sqrt(len)) AS BIGINT) AS w
      FROM ascii_img),
    px AS (
      SELECT doc_id, w, len // w AS h, i.i, j.j,
             substr(text,
                    CAST((i.i * (len // w)) // 8 * w + (j.j * w) // 8 + 1 AS BIGINT),
                    1) AS ch
      FROM dims,
           (SELECT UNNEST(range(8)) AS i) i,
           (SELECT UNNEST(range(8)) AS j) j)
    SELECT doc_id AS media_id, CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h,
           md5(string_agg(ch, '' ORDER BY i, j)) AS resized_md5
    FROM px GROUP BY doc_id, w, h""",
)
def multimodal_resize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor image resize through mapInPandas, hash-verified:
    each image payload fake-decodes to a floor(sqrt(len))-wide byte
    grid and resizes to 8×8 with the real gather algorithm (one numpy
    gather per batch). Restricted to ASCII documents so the SQL
    oracle's character slicing is byte-exact, like multimodal_frames;
    the binary plumbing under test is identical."""
    from stream_loader_spark.operators.multimodal import resize_media

    docs = load_table(spark, sf_dir, "documents").where(
        F.octet_length("text") == F.length("text")
    )
    resized = resize_media(synthetic_media(docs), out_w=8, out_h=8)
    return resized.select(
        "media_id", "src_w", "src_h", F.md5("resized").alias("resized_md5")
    )


from stream_loader_spark.operators.graph import pagerank, pagerank_oracle_sql

_PAGERANK_EDGES_CTE = """base AS (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
edges AS (SELECT c AS src, s AS dst FROM base UNION SELECT s, c FROM base)"""

# degree-joined purchase graph, built once per (session, sf_dir):
# graph_pagerank and graph_seeded_pagerank iterate over the IDENTICAL
# edge table, so the scan→distinct→mirror→degree prep — the dominant
# cost of either query — is shared, the role a materialized graph
# projection plays in a warehouse. Bounded: one ~|E|×3-bigint block per
# sf_dir touched this session (the TPC-H tables are never replicated by
# the scale probe, so |E| stays sf-sized).
_PURCHASE_GRAPH_MEMO: dict = {}


def _purchase_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    if _PURCHASE_GRAPH_MEMO.get("_session") != id(spark):
        _PURCHASE_GRAPH_MEMO.clear()
        _PURCHASE_GRAPH_MEMO["_session"] = id(spark)
    if sf_dir in _PURCHASE_GRAPH_MEMO:
        # liveness probe: a harness that unpersists all RDDs between
        # queries (bench.py's between-slot hygiene) drops the
        # checkpoint's blocks, and a localCheckpoint-ed frame has no
        # lineage to recompute from — a dangling memo entry would fail
        # every later ranking with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
        # (observed in the r12 bench). One take(1) against partition 0
        # distinguishes live blocks from dropped ones; on failure the
        # graph is rebuilt, which just returns the memo to the no-
        # sharing cost the queries paid before the memo existed.
        try:
            _PURCHASE_GRAPH_MEMO[sf_dir].take(1)
        except Exception:
            del _PURCHASE_GRAPH_MEMO[sf_dir]
    if sf_dir not in _PURCHASE_GRAPH_MEMO:
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        pairs = (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("c"),
                (F.col("l_suppkey") * 2 + 1).alias("s"),
            )
            .distinct()
        )
        edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
            pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
        )
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        _PURCHASE_GRAPH_MEMO[sf_dir] = edges.join(deg, "src").localCheckpoint(
            eager=False
        )
    return _PURCHASE_GRAPH_MEMO[sf_dir]


@query("graph_pagerank", pagerank_oracle_sql(_PAGERANK_EDGES_CTE, iterations=5))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph ranking: 5 PageRank rounds over the
    customer↔supplier purchase graph (bidirectional edges, node ids in
    disjoint even/odd keyspaces). Exact integer fixed-point — the
    oracle unrolls the SAME iterations as chained SQL CTEs and the
    hashes must match bit-for-bit, no float tolerance. The operator
    (operators/graph.py::pagerank) is the repo's Pregel template:
    degree-joined edges materialized once and SHARED with the seeded
    variant (_purchase_graph memo); ranks broadcast here because the
    purchase graph's node set (customers + suppliers) is orders of
    magnitude smaller than its edge set — each round is a map-side hash
    join over the pinned edges plus one |V|-sized message shuffle, and
    the symmetric fast path drops the per-round node-set join."""
    return pagerank(
        _purchase_graph(spark, sf_dir),
        iterations=5,
        broadcast_ranks=True,
        symmetric=True,
        deg_col="deg",
    )


@query(
    "shard_packing",
    f"""WITH s AS (
      SELECT doc_id, n_chars,
             ({_MD5_BUCKET_SQL.format(e="CAST(doc_id AS VARCHAR)")}) % 8 AS slice,
             md5(CAST(doc_id AS VARCHAR)) AS ord
      FROM documents),
    c AS (
      SELECT doc_id, n_chars, slice,
             SUM(n_chars) OVER (PARTITION BY slice ORDER BY ord, doc_id)
               - n_chars AS strt
      FROM s)
    SELECT doc_id, slice,
           CAST(slice * 4294967296 + strt // 4096 AS BIGINT) AS shard,
           CAST(strt % 4096 AS BIGINT) AS start_off
    FROM c""",
)
def shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard bin-packing: documents packed greedily into
    4 KiB-budget shards within 8 md5 slices (operators/layout.py::
    shard_by_budget). One shuffle, per-slice windows — parallelism is
    the slice count, never the corpus size. The oracle replays the
    identical window arithmetic in SQL."""
    from stream_loader_spark.operators.layout import shard_by_budget

    docs = load_table(spark, sf_dir, "documents")
    out = shard_by_budget(docs, size_col="n_chars", budget=4096, n_slices=8)
    return out.select("doc_id", "slice", "shard", "start_off")


@query(
    "bigram_logprob",
    """WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
      FROM documents),
    bx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
           FROM t WHERE len(toks) >= 2),
    b AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur FROM bx),
    dbc AS (SELECT doc_id, prev, cur, COUNT(*) AS tc FROM b GROUP BY doc_id, prev, cur),
    freq AS MATERIALIZED (
      SELECT prev, cur, CAST(SUM(tc) AS BIGINT) AS c FROM dbc GROUP BY prev, cur),
    cf AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS cf FROM freq GROUP BY prev),
    vocab AS (SELECT COUNT(DISTINCT cur) AS v FROM freq),
    scored AS (
      SELECT d.doc_id, d.tc,
             CAST(ROUND(ln((f.c + 1.0) / (cf.cf + v.v)), 6) AS DECIMAL(18,6)) AS lp
      FROM dbc d JOIN freq f USING (prev, cur) JOIN cf USING (prev)
      CROSS JOIN vocab v)
    SELECT doc_id, CAST(SUM(tc) AS BIGINT) AS n_bigrams,
           CAST(CAST(SUM(lp * tc) AS DECIMAL(38,6)) AS DOUBLE) / SUM(tc) AS mean_logprob
    FROM scored GROUP BY doc_id""",
)
def bigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score: mean add-one-smoothed conditional
    log-likelihood per document (operators/text.py::bigram_logprob).
    Bigrams built in-row with zip_with — no positional self-join; logs
    rounded then summed exactly, so the hash matches the oracle's."""
    from stream_loader_spark.operators.text import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs)


@query(
    "robust_outlier_docs",
    """WITH m AS (
      SELECT lang, quantile_disc(n_chars, 0.5) AS med
      FROM documents GROUP BY lang),
    d AS (
      SELECT doc_id, dd.lang, n_chars, med, abs(n_chars - med) AS dev
      FROM documents dd JOIN m USING (lang)),
    md AS (SELECT lang, quantile_disc(dev, 0.5) AS mad FROM d GROUP BY lang)
    SELECT doc_id, d.lang, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(d.med AS BIGINT) AS med, CAST(md.mad AS BIGINT) AS mad,
           dev > 3 * md.mad AS is_outlier
    FROM d JOIN md USING (lang)""",
)
def robust_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language median/MAD outlier flags on document length
    (operators/stats.py::robust_outliers) — exact discrete quantiles
    via RANGE-framed windowed counts, all-integer verdicts. The oracle
    derives the same percentile_disc medians through DuckDB's
    aggregate form (quantile_disc), an independent formulation."""
    from stream_loader_spark.operators.stats import robust_outliers

    docs = load_table(spark, sf_dir, "documents")
    return robust_outliers(
        docs, value_col="n_chars", group_col="lang", id_col="doc_id", k=3
    )


@query(
    "join_key_skew_profile",
    """WITH c AS (
      SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_suppkey),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS nkeys FROM c)
    SELECT key, cnt,
           CAST((cnt * 1000000) // total AS BIGINT) AS share_ppm,
           CAST((cnt * nkeys * 100) // total AS BIGINT) AS skew_x100
    FROM c CROSS JOIN t
    ORDER BY cnt DESC, key LIMIT 20""",
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of lineitem's supplier join key
    (operators/skew.py::key_skew_profile): exact integer share/skew
    factors for the 20 heaviest keys — the diagnostic that decides
    broadcast vs salted vs AQE skew-join before the join runs."""
    from stream_loader_spark.operators.skew import key_skew_profile

    li = load_table(spark, sf_dir, "lineitem")
    return key_skew_profile(li, key_col="l_suppkey", top_k=20)


@query(
    "inverted_postings",
    """WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
      FROM documents),
    gx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
           FROM t WHERE len(toks) >= 2),
    tok AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS token FROM gx),
    dtc AS (SELECT doc_id, token, COUNT(*) AS tc FROM tok GROUP BY doc_id, token),
    keep AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tc) AS BIGINT) AS tf
      FROM dtc GROUP BY token HAVING COUNT(*) BETWEEN 2 AND 50)
    SELECT k.token, k.df, k.tf,
           string_agg(CAST(d.doc_id AS VARCHAR), ',' ORDER BY d.doc_id) AS postings
    FROM dtc d JOIN keep k USING (token)
    GROUP BY k.token, k.df, k.tf""",
)
def inverted_postings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index postings for mid-frequency bigram terms (df in [2, 50])
    — operators/text.py::inverted_postings. The phrase (bigram) index:
    stopword-band terms are dropped before any posting list
    materializes, so list size is bounded by the df ceiling at any
    corpus scale; grams build in-row, never via a positional
    self-join."""
    from stream_loader_spark.operators.text import inverted_postings

    docs = load_table(spark, sf_dir, "documents")
    return inverted_postings(docs, n=2, min_df=2, max_df=50)


_BENCH_BUCKET = _MD5_BUCKET_SQL.format(e="'bench' || CAST(vec_id AS VARCHAR)")

_COS_SQL = """ROUND(
               list_sum(list_transform(range(1, len(c.embedding) + 1),
                        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
               / (SQRT(list_sum(list_transform(range(1, len(c.embedding) + 1),
                        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))
                  * SQRT(list_sum(list_transform(range(1, len(b.embedding) + 1),
                        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
               6)"""


@query(
    "semantic_contamination",
    f"""WITH tagged AS (
      SELECT vec_id, embedding, ({_BENCH_BUCKET}) AS bkt,
             list_sum(list_transform(range(1, len(embedding) + 1),
                      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
               AS sumsq
      FROM embeddings),
    b AS (SELECT vec_id, embedding FROM tagged WHERE bkt < 16 AND sumsq > 0),
    c AS (SELECT vec_id, embedding FROM tagged WHERE bkt >= 16 AND sumsq > 0),
    scored AS (
      SELECT c.vec_id, b.vec_id AS ref_id, {_COS_SQL} AS cos
      FROM c CROSS JOIN b),
    ranked AS (
      SELECT vec_id, ref_id, cos,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, ref_id) AS rn
      FROM scored)
    SELECT vec_id, cos AS max_cos, ref_id AS nearest_ref,
           cos >= 0.35 AS contaminated
    FROM ranked WHERE rn = 1""",
)
def semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: each corpus embedding's exact max
    cosine to a held-out 'benchmark' subset (md5 bucket < 16/256 under
    the 'bench' salt), flagged at >= 0.35 — the embedding-space
    complement of the n-gram benchmark_contamination check
    (operators/similarity.py::max_cosine_to_set: broadcast reference
    pack + in-row max, zero corpus shuffles).

    Zero-norm embeddings are excluded EXPLICITLY on both engines:
    cosine against a zero vector is 0/0, which Spark evaluates to NULL
    and DuckDB to NaN — left in, a malformed fixture row would be
    silently dropped on one engine and ranked on the other. The NULL
    filter then pins the empty-reference edge to the oracle: with an
    EMPTY bench bucket max_cosine_to_set emits every corpus row with
    NULL max_cos (documented operator contract), while the oracle's
    CROSS JOIN emits zero rows — dropping the NULLs makes both engines
    agree (zero rows). With a non-empty bench it filters nothing (the
    zero-norm exclusion removed the only other NULL source)."""
    from stream_loader_spark.operators.similarity import max_cosine_to_set
    from stream_loader_spark.operators.sampling import sample_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    nonzero = F.expr(
        "aggregate(zip_with(embedding, embedding, (x, y) -> double(x) * double(y)), "
        "0D, (acc, v) -> acc + v) > 0D"
    )
    bkt = sample_bucket(F.col("vec_id"), salt="bench")
    bench = emb.where((bkt < 16) & nonzero)
    corpus = emb.where((bkt >= 16) & nonzero)
    out = max_cosine_to_set(corpus, bench).where(F.col("max_cos").isNotNull())
    return out.select(
        "vec_id",
        "max_cos",
        "nearest_ref",
        (F.col("max_cos") >= 0.35).alias("contaminated"),
    )


_BIGRAM_FREQ_CTES = """WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
      FROM documents),
    bx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
           FROM t WHERE len(toks) >= 2),
    b AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur FROM bx)"""


@query(
    "collocations_pmi",
    f"""{_BIGRAM_FREQ_CTES},
    freq AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY prev, cur),
    m AS (SELECT prev, cur, c,
                 SUM(c) OVER (PARTITION BY prev) AS cl,
                 SUM(c) OVER (PARTITION BY cur) AS cr,
                 SUM(c) OVER () AS n
          FROM freq)
    SELECT prev, cur, c,
           ROUND(ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
                    / (CAST(cl AS DOUBLE) * CAST(cr AS DOUBLE))), 6) AS pmi
    FROM m WHERE c >= 5
    ORDER BY pmi DESC, prev, cur LIMIT 100""",
)
def collocations_pmi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-100 bigrams by PMI with a min-count floor
    (operators/text.py::collocations_pmi). One corpus aggregate; the
    marginals fold in as keyed windows over the vocab-scale bigram
    table and N as a broadcast scalar — no second corpus pass, no
    unpartitioned window, top-k never a global sort."""
    from stream_loader_spark.operators.text import collocations_pmi

    docs = load_table(spark, sf_dir, "documents")
    return collocations_pmi(docs, min_count=5, top_k=100)


@query(
    "bm25_scores",
    """WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
      FROM documents),
    gx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
           FROM t WHERE len(toks) >= 2),
    tok AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS token FROM gx),
    dtc AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tc
            FROM tok GROUP BY doc_id, token),
    dl AS (SELECT doc_id, CAST(SUM(tc) AS BIGINT) AS dl FROM dtc GROUP BY doc_id),
    corpus AS (SELECT CAST(SUM(dl) AS BIGINT) AS dl_sum,
                      CAST(COUNT(*) AS BIGINT) AS n_docs FROM dl),
    keep AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
             FROM dtc GROUP BY token HAVING COUNT(*) BETWEEN 2 AND 50)
    SELECT d.doc_id, d.token, d.tc, k.df,
           ROUND(ROUND(ln(1.0 + (c.n_docs - k.df + 0.5) / (k.df + 0.5)), 6)
                 * (CAST(100 * (12 + 10) * d.tc * c.dl_sum AS DOUBLE)
                    / CAST(1000 * c.dl_sum * d.tc
                           + 12 * (100 - 75) * c.dl_sum
                           + 12 * 75 * dl.dl * c.n_docs AS DOUBLE)),
                 6) AS bm25
    FROM dtc d JOIN keep k USING (token) JOIN dl USING (doc_id)
    CROSS JOIN corpus c""",
)
def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 weights over the df-banded bigram inverted index
    (operators/text.py::bm25_postings, k1=1.2 b=0.75): tf normalization
    as an exact bigint rational, idf rounded before the one
    double-product step — the retrieval scoring layer over
    inverted_postings."""
    from stream_loader_spark.operators.text import bm25_postings

    docs = load_table(spark, sf_dir, "documents")
    return bm25_postings(docs, n=2, min_df=2, max_df=50)


@query(
    "tfidf_cosine_pairs",
    """WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
      FROM documents),
    gx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
           FROM t WHERE len(toks) >= 2),
    tok AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS token FROM gx),
    dtc AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tc
            FROM tok GROUP BY doc_id, token),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dtc),
    keep AS (
      SELECT token,
             CAST(CAST(ROUND(ln(CAST(n.n_docs AS DOUBLE) / COUNT(*)), 6)
                       AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS idf_micro
      FROM dtc CROSS JOIN nd n
      GROUP BY token, n.n_docs HAVING COUNT(*) BETWEEN 2 AND 50),
    keep_pos AS (SELECT * FROM keep WHERE idf_micro > 0),
    w AS (SELECT doc_id, d.token, k.idf_micro * d.tc AS w
          FROM dtc d JOIN keep_pos k USING (token)),
    norms AS (SELECT doc_id, SUM(CAST(w AS DECIMAL(19,0)) * w) AS n2
              FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(CAST(a.w AS DECIMAL(19,0)) * b.w) AS dot
      FROM w a JOIN w b USING (token)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    scored AS (
      SELECT doc_a, doc_b,
             ROUND(CAST(dot AS DOUBLE)
                   / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))),
                   6) AS cosine
      FROM dots
      JOIN norms na ON na.doc_id = doc_a
      JOIN norms nb ON nb.doc_id = doc_b)
    SELECT doc_a, doc_b, cosine FROM scored WHERE cosine >= 0.5""",
)
def tfidf_cosine_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lexical near-dup pairs: cosine >= 0.5 over df-banded
    bigram tf-idf vectors (operators/text.py::tfidf_cosine_pairs) —
    integer-micro weights, decimal-exact dots/norms, candidate work
    bounded by the df ceiling (same co-occurrence bound as
    ngram_jaccard_pairs; the at-scale approximation is the
    MinHash/SimHash family)."""
    from stream_loader_spark.operators.text import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs, n=2, min_df=2, max_df=50, threshold=0.5)


@query(
    "bm25_more_like_this",
    """WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
      FROM documents),
    gx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
           FROM t WHERE len(toks) >= 2),
    tok AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS token FROM gx),
    dtc AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tc
            FROM tok GROUP BY doc_id, token),
    dl AS (SELECT doc_id, CAST(SUM(tc) AS BIGINT) AS dl FROM dtc GROUP BY doc_id),
    corpus AS (SELECT CAST(SUM(dl) AS BIGINT) AS dl_sum,
                      CAST(COUNT(*) AS BIGINT) AS n_docs FROM dl),
    keep AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
             FROM dtc GROUP BY token HAVING COUNT(*) BETWEEN 2 AND 400),
    w AS (
      SELECT d.doc_id, d.token,
             CAST(ROUND(ROUND(ln(1.0 + (c.n_docs - k.df + 0.5) / (k.df + 0.5)), 6)
                   * (CAST(100 * (12 + 10) * d.tc * c.dl_sum AS DOUBLE)
                      / CAST(1000 * c.dl_sum * d.tc
                             + 12 * (100 - 75) * c.dl_sum
                             + 12 * 75 * dl.dl * c.n_docs AS DOUBLE)),
                   6) AS DECIMAL(18,6)) AS bm25
      FROM dtc d JOIN keep k USING (token) JOIN dl USING (doc_id)
      CROSS JOIN corpus c),
    q AS (SELECT DISTINCT token FROM tok WHERE doc_id = 42)
    SELECT doc_id, CAST(SUM(bm25) AS DOUBLE) AS score,
           CAST(COUNT(*) AS BIGINT) AS matched_terms
    FROM w JOIN q USING (token)
    GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10""",
)
def bm25_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval read path end-to-end: BM25 top-10 'more like doc 42'
    (operators/text.py::bm25_search) — the query bag is doc 42's own
    banded bigrams, matched postings sum as exact decimals (no
    float-order nondeterminism), ties break on doc_id, top-k compiles
    to TakeOrderedAndProject. Each query term touches at most max_df
    postings — scoring never scans the corpus. The df ceiling is 400
    (not the index queries' 50): this corpus's bigram dfs grow with SF
    and a 50-ceiling empties the query bag at sf0.1 — the ceiling is a
    per-use-case knob, set here to keep the search non-degenerate at
    every fixture SF."""
    from stream_loader_spark.operators.text import bm25_search

    docs = load_table(spark, sf_dir, "documents")
    # r12: the query bag comes from the index's own pinned per-(doc,
    # term) block (query_doc) — the old caller-built bag re-scanned and
    # re-tokenized the corpus and paid a distinct exchange for the same
    # term set (oracle unchanged: DISTINCT bigrams of doc 42)
    return bm25_search(docs, k=10, n=2, min_df=2, max_df=400, query_doc=42)


@query(
    "graph_seeded_pagerank",
    pagerank_oracle_sql(
        _PAGERANK_EDGES_CTE, iterations=5, seed_nodes=[2, 4, 6]
    ),
)
def graph_seeded_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from curated seeds (customers 1–3 → node
    ids 2/4/6): the teleport term lands only on the seeds, so rank is
    damped seed-reachability mass — the crawl-frontier / curated-seed
    relevance weighting. Same exact integer fixed-point and unrolled
    SQL oracle as graph_pagerank; nodes the seeds cannot reach within
    5 hops hold rank 0 exactly. Iterates over the SAME memoized
    degree-joined edge table as graph_pagerank (_purchase_graph)."""
    return pagerank(
        _purchase_graph(spark, sf_dir),
        iterations=5,
        broadcast_ranks=True,
        symmetric=True,
        seed_nodes=[2, 4, 6],
        deg_col="deg",
    )


@query(
    "quality_calibration_bins",
    """WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token
      FROM documents),
    b AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1) AS bucket
      FROM tok),
    g AS (
      SELECT doc_id,
             CAST(SUM((bucket * 2654435761) % 1001 - 500) AS BIGINT) AS logit_milli
      FROM b GROUP BY doc_id),
    flags AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
               BETWEEN 5 AND 2000 AS wc_ok
      FROM documents),
    deciles AS (
      SELECT g.doc_id, g.logit_milli, f.wc_ok,
             NTILE(10) OVER (ORDER BY g.logit_milli, g.doc_id) AS bin
      FROM g JOIN flags f USING (doc_id))
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(logit_milli) AS BIGINT) AS lo,
           CAST(MAX(logit_milli) AS BIGINT) AS hi,
           CAST(SUM(CASE WHEN wc_ok THEN 1 ELSE 0 END) AS BIGINT) AS rule_pass
    FROM deciles GROUP BY bin""",
)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration view: documents binned into score deciles
    of the hashed-linear quality logit, each bin reporting how many
    pass an independent Gopher-style word-count rule — the
    agreement-between-signals diagnostic run before trusting either
    filter at scale. Deciles are exact NTILE over (logit, doc_id) — a
    total order, so binning is engine-independent; all-integer output.
    The ntile is the one global-sort stage (fine for a 10-bin report;
    at corpus scale swap in the windowed-count quantile pattern used by
    perplexity_buckets)."""
    from stream_loader_spark.operators.text import hashed_linear_quality

    docs = load_table(spark, sf_dir, "documents")
    scored = hashed_linear_quality(docs).select("doc_id", "logit_milli")
    flags = docs.select(
        "doc_id",
        F.size(F.expr("filter(split(text, '\\\\s+'), x -> x != '')"))
        .between(5, 2000)
        .alias("wc_ok"),
    )
    binned = scored.join(flags, "doc_id").withColumn(
        "bin",
        F.ntile(10).over(
            Window.orderBy(F.col("logit_milli").asc(), F.col("doc_id").asc())
        ),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("logit_milli").alias("lo"),
        F.max("logit_milli").alias("hi"),
        F.sum(F.when(F.col("wc_ok"), 1).otherwise(0)).alias("rule_pass"),
    )


@query(
    "ngram_containment_pairs",
    """WITH t AS (
      SELECT doc_id, lang, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
      FROM documents),
    d AS (
      SELECT doc_id, lang,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
             ELSE [array_to_string(toks, ' ')] END AS shingles
      FROM t),
    ex AS MATERIALIZED (
      SELECT doc_id, lang, unnest(shingles) AS shingle, len(shingles) AS nsh FROM d),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter,
             ANY_VALUE(a.nsh) AS na, ANY_VALUE(b.nsh) AS nb
      FROM ex a JOIN ex b
        ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(CAST(ninter AS DOUBLE) / na, 6) AS containment_a_in_b,
           ROUND(CAST(ninter AS DOUBLE) / nb, 6) AS containment_b_in_a
    FROM inter
    WHERE GREATEST(ROUND(CAST(ninter AS DOUBLE) / na, 6),
                   ROUND(CAST(ninter AS DOUBLE) / nb, 6)) >= 0.8""",
)
def ngram_containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric word-3-gram containment pairs ≥ 0.8 blocked by
    language (operators/dedup.py::ngram_containment_pairs) — the
    partial-copy/quotation detector Jaccard structurally misses: a
    short doc verbatim inside a long one has tiny Jaccard but
    containment 1.0. Deliberately NO size prune (the asymmetry is the
    point); candidate work still tracks shared-shingle co-occurrence
    with the frequent-shingle bucket guard."""
    from stream_loader_spark.operators.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        docs, threshold=0.8, block_col="lang", shingle_size=3
    )
