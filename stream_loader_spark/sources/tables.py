"""Fixture-table catalog over the driver's parquet test data.

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file (or directory) each under a
scale-factor directory (TESTDATA.md).
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Memo of fixture DataFrames for the CURRENT session. spark.read.parquet
# costs a driver-side file listing + footer schema read (~0.1s) EVERY
# call; the fixture tables are immutable, so the logical plan is
# reusable across the hundreds of load_table calls a bench/correctness
# sweep makes. A weak-keyed-by-session dict cannot work here: the
# cached DataFrames strongly reference their session, so the weak key
# would never die. Instead the memo holds ONE session's entries and
# clears itself when a different session shows up — bounded at ten-ish
# logical plans, with prior sessions' plans actually released.
_TABLE_MEMO: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if _TABLE_MEMO.get("_session_id") != id(spark):
        _TABLE_MEMO.clear()
        _TABLE_MEMO["_session_id"] = id(spark)
        _TABLE_MEMO["_tables"] = {}
    per_session = _TABLE_MEMO["_tables"]
    key = (os.path.abspath(sf_dir), name)
    if key in per_session:
        return per_session[key]
    df = spark.read.parquet(table_path(sf_dir, name))
    # Normalize TIMESTAMP_NTZ (Spark 4.1+ inference over tz-less parquet)
    # to TIMESTAMP_LTZ: every operator and oracle compares under a UTC
    # session timezone, where the cast is value-identical. The cast target
    # must be spelled "timestamp_ltz" — under a session with
    # spark.sql.timestampType=TIMESTAMP_NTZ the bare "timestamp" keyword
    # resolves to NTZ and the cast silently no-ops, leaving unix_millis /
    # session_window unresolvable (the round-3 driver failure mode).
    ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, df[c].cast("timestamp_ltz"))
    per_session[key] = df
    return df


def scatter(
    df: DataFrame,
    min_partitions: int | None = None,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Repartition a narrow input so CPU-heavy operators parallelize.

    The local fixtures are single parquet files → one input split → one
    task, which serializes explode/HOF-heavy work. At production scale
    inputs arrive in many splits and this is a no-op; locally it costs
    one small shuffle of the raw rows and buys full-core parallelism.

    With ``by`` set, the spread is HASH partitioning on those columns
    instead of round robin: narrow ops (project/explode/filter,
    broadcast-join stream side, generate) preserve it, so a downstream
    aggregate or window clustered on a superset of ``by`` reuses this
    exchange instead of adding its own — the shuffle moves from the
    post-explode rows to the raw rows, which is never more bytes. The
    by-form always repartitions (an already-wide input is still not
    HASH-partitioned on the key) — EXCEPT when the input is itself a
    hash repartition on exactly these columns (r13: detected from the
    analyzed plan, so a double scatter(by=...) returns the same frame
    and pays one exchange; Catalyst's CollapseRepartition already folds
    stacked repartitions, this additionally keeps the memo identity).
    Callers should only pass ``by``
    when a downstream operator actually consumes the clustering. Note
    ``localCheckpoint`` DROPS partitioning info (measured: the consumer
    adds its exchange back) — the reuse only helps checkpoint-free
    paths.
    """
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    memo = _SCATTER_MEMO.setdefault(df, {})
    key = (min_partitions, by)
    if key not in memo:
        # The probe below must never EXECUTE anything: under AQE,
        # obtaining df.rdd materializes every upstream exchange as real
        # jobs at construction time (measured: >1s of thrown-away work
        # for a join-derived frame, re-run again at execution). So
        # frames whose lineage already contains a width-giving operator
        # (join/aggregate/window/...) are left alone — their parallelism
        # is arranged upstream (shuffle.partitions, or the scattered
        # stream side of a broadcast join), and at production scale a
        # respread here would only add an exchange. Only for a NARROW
        # lineage (pure projection/filter over a scan, or a checkpointed
        # LogicalRDD — where obtaining the RDD runs no jobs) do we probe
        # the split count. Memoized per input frame so repeated operator
        # calls over the (memoized) fixture tables pay it once. The
        # already-wide case stores a SENTINEL, not df itself: a value
        # that references its own weak key would pin the entry forever
        # (the repartitioned child references only the session, so it is
        # safe to hold).
        if by:
            # Idempotence (r13): a frame that IS already a hash
            # repartition on exactly these columns (an upstream
            # scatter(by=...) handed straight in) would pay a second,
            # byte-identical exchange — detected from the analyzed
            # plan's top node, which is free. Storage-level clustering
            # (e.g. bucketed tables) is invisible at this API; callers
            # with such inputs should not pass ``by``.
            if _is_by_repartition(df, by, min_partitions):
                memo[key] = None
            else:
                memo[key] = df.repartition(min_partitions, *[df[c] for c in by])
        elif _has_wide_node(df):
            memo[key] = None
        elif df.rdd.getNumPartitions() >= min_partitions:
            memo[key] = None
        else:
            memo[key] = df.repartition(min_partitions)
    cached = memo[key]
    return df if cached is None else cached


# Logical operators that introduce their own data spread (a shuffle, or
# a broadcast join whose stream side the caller scatters at the narrow
# base). Matched as node names at the start of an analyzed-plan tree
# line — expression text never starts a line, so literals cannot alias.
_WIDE_NODE_RE = None


def _has_wide_node(df: DataFrame) -> bool:
    """True if the frame's analyzed plan contains a width-giving
    operator, WITHOUT compiling the physical plan or running jobs."""
    global _WIDE_NODE_RE
    if _WIDE_NODE_RE is None:
        import re

        _WIDE_NODE_RE = re.compile(
            r"(?m)^[\s:+-]*(?:Join|Aggregate|Window|Sort|Deduplicate|"
            r"Repartition(?:ByExpression)?|Intersect|Except|"
            r"GlobalLimit|CoGroup|FlatMapGroups)\b"
        )
    plan = df._jdf.queryExecution().analyzed().toString()
    return _WIDE_NODE_RE.search(plan) is not None


def _is_by_repartition(df: DataFrame, by: tuple[str, ...], min_partitions: int) -> bool:
    """True when the frame's analyzed plan is ALREADY a hash
    repartition on exactly the ``by`` columns with at least
    ``min_partitions`` partitions — the redundant-exchange case a
    second ``scatter(by=...)`` must not re-pay. Reads only the analyzed
    plan's first line (no physical planning, no jobs)."""
    import re

    first = df._jdf.queryExecution().analyzed().toString().split("\n", 1)[0]
    m = re.match(r"^RepartitionByExpression \[(.*)\], (\d+)\s*$", first)
    if not m or int(m.group(2)) < min_partitions:
        return False
    # a hash repartition lists bare attribute refs (name#id, L suffix for
    # longs); a range repartition prints the same node with sort orders
    # (``doc_id#1L ASC NULLS FIRST``) and must not count
    refs = [re.fullmatch(r"([^\s#]+)#\d+L?", c.strip()) for c in m.group(1).split(",")]
    return all(refs) and [r.group(1) for r in refs] == list(by)


_SCATTER_MEMO: WeakKeyDictionary = WeakKeyDictionary()


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table and register temp views for spark.sql."""
    out = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet dataset whose schema grew over time (the loader
    kept appending batches while upstream added payload columns —
    reference formatters get this from Avro schema evolution; on the
    parquet side it is footer-schema merging). ``mergeSchema`` unions
    all file schemas; files predating a column yield NULLs for it.

    Scale note: merging reads every file footer at planning time —
    fine for a sink's batch dirs, not for millions of files; pair with
    ``operators/layout.py::compact_small_files`` to keep file counts
    bounded.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)
