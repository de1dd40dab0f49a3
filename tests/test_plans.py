"""Physical-plan regression tests: the scale properties the engine
promises (pushdown, pruning, broadcast, partial aggregation) asserted
against `.explain` output so they can't silently regress."""

import os
import time

import pytest
from pyspark.sql import functions as F

from tools.scale_audit import plan_text

from conftest import job_group


class TestPlanShapes:
    def test_q1_pushdown_and_pruning(self, spark, sf_small):
        plan = plan_text(spark, "q1_pricing_summary", sf_small)
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
        # column pruning: only the 6 needed columns reach the scan
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
        assert "l_quantity" in read_schema
        # partial + final aggregation around exactly one exchange
        assert plan.count("HashAggregate") == 2

    def test_q5_joins_broadcast_fact_never_shuffles(self, spark, sf_small):
        plan = plan_text(spark, "q5_local_supplier_volume", sf_small)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # the region filter reaches its scan
        assert "EqualTo(r_name,EUROPE)" in plan

    def test_q6_all_predicates_pushed(self, spark, sf_small):
        plan = plan_text(spark, "q6_forecast_revenue", sf_small)
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
        for fragment in ("l_shipdate", "l_discount", "l_quantity"):
            assert fragment in pushed

    def test_recovery_agg_is_two_phase(self, spark, sf_small):
        plan = plan_text(spark, "a1_committed_positions", sf_small)
        assert plan.count("HashAggregate") == 2  # map-side partial + final
        assert plan.count("Exchange") == 1

    def test_p3_projection_prunes_event_columns(self, spark, sf_small):
        plan = plan_text(spark, "p3_metadata_projection", sf_small)
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "value" not in read_schema  # unused payload column pruned

    def test_sessionize_windows_on_high_cardinality_key(self, spark, sf_small):
        """Round-1 scale-killer regression: the sessionization window
        must partition on user_id (grows with users), never on the
        8-value bucket derived from it."""
        plan = plan_text(spark, "sessionize_events", sf_small)
        window_lines = [l for l in plan.splitlines() if "Window" in l or "WindowGroupLimit" in l]
        assert window_lines, plan
        assert any("user_id" in l for l in window_lines)
        assert not any("user_bucket" in l for l in window_lines)

    def test_lsh_pair_queries_never_cross_join(self, spark, sf_small):
        """Candidate generation is banded equi-join in every near-dup
        operator — an all-pairs product would appear as a nested-loop
        or cartesian join node."""
        for name in ("minhash_lsh_pairs", "simhash_pairs", "embedding_near_dup"):
            plan = plan_text(spark, name, sf_small)
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name

    def test_embedding_lsh_signature_pass_is_narrow(self, spark, sf_small):
        """All 32 plane dots come from ONE narrow transform/zip_with
        pass (r3): no posexplode (a 64× row blow-up feeding a 32-sum
        hash aggregate — the r2 shape this replaced), and the only
        Generate in the plan is the band explode."""
        plan = plan_text(spark, "embedding_near_dup", sf_small)
        assert "posexplode" not in plan
        n_generates = plan.count("Generate explode")
        # one per self-join side (Catalyst may or may not reuse the subtree)
        assert 1 <= n_generates <= 2

    def test_deterministic_sample_prunes_text(self, spark, sf_small):
        plan = plan_text(spark, "deterministic_sample", sf_small)
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "text" not in read_schema  # only doc_id/lang reach the scan


class TestCsvManifestSink:
    def test_csv_sink_with_reference_contract(self, spark, tmp_path):
        """File sink in the reference's CSV contract: TSV, no header,
        empty-string nulls (csv_writer_options), via ManifestFileSink."""
        import os
        from datetime import datetime

        from pyspark.sql import functions as F
        from stream_loader_spark.sinks.manifest import ManifestFileSink
        from stream_loader_spark.functions.encoding import csv_writer_options

        sink = ManifestFileSink(
            str(tmp_path / "out"),
            file_format="csv",
            meta_cols=None,
            writer_options=csv_writer_options(),
        )
        df = spark.createDataFrame(
            [("a", 1, None, datetime(2024, 1, 2, 3, 4, 5, 123000))],
            "s string, i int, n string, ts timestamp",
        )
        sink.write_batch(df.coalesce(1), 0)
        files = [
            f
            for f in os.listdir(sink.batch_data_dir(0))
            if f.endswith(".csv") or f.startswith("part-")
        ]
        raw = "".join(
            open(os.path.join(sink.batch_data_dir(0), f)).read() for f in files
        ).strip()
        assert raw == "a\t1\t\t2024-01-02 03:04:05.123"
        # and it reads back through the manifest with the same options
        back = sink.committed_data(spark)
        assert back.count() == 1


class TestParquetConfig:
    def test_options_mapping(self):
        from stream_loader_spark.functions.parquet_config import ParquetConfig

        cfg = ParquetConfig(
            compression="zstd",
            row_group_size_bytes=128 << 20,
            enable_dictionary=True,
            bloom_filter_columns=("user_id",),
            max_records_per_file=1000,
        )
        opts = cfg.options()
        assert opts["compression"] == "zstd"
        assert opts["parquet.block.size"] == str(128 << 20)
        assert opts["parquet.enable.dictionary"] == "true"
        assert opts["parquet.bloom.filter.enabled#user_id"] == "true"
        assert opts["maxRecordsPerFile"] == "1000"

    def test_writes_with_config(self, spark, tmp_path):
        from stream_loader_spark.functions.parquet_config import ParquetConfig
        from stream_loader_spark.sinks.manifest import ManifestFileSink

        sink = ManifestFileSink(
            str(tmp_path / "out"),
            meta_cols=None,
            writer_options=ParquetConfig(compression="gzip").options(),
        )
        sink.write_batch(spark.range(10), 0)
        import os

        files = os.listdir(sink.batch_data_dir(0))
        assert any(".gz.parquet" in f for f in files)


class TestRegistryInvariants:
    """Drift guards: the driver gate depends on these staying true."""

    def test_every_query_is_oracle_verified(self):
        from stream_loader_spark.plans.queries import QUERIES, ORACLE_SQL

        assert set(ORACLE_SQL) <= set(QUERIES)
        # no rows-only queries: every declared query has a DuckDB oracle
        assert sorted(set(QUERIES) - set(ORACLE_SQL)) == []

    def test_bench_covers_registry(self):
        import bench
        from stream_loader_spark.plans.queries import QUERIES

        # round 6: no waivers — every registered query is benched (the
        # count-aggregated ngram_jaccard_pairs rewrite retired the one
        # quadratic exclusion)
        assert set(bench.BENCH_QUERIES) == set(QUERIES)
        assert not set(bench.BENCH_QUERIES) - set(QUERIES)
        # ratio-skip entries must still be real queries
        assert bench.RATIO_SKIP <= set(QUERIES)


class TestRound4PlanPins:
    def test_q17_scans_lineitem_once(self, spark, sf_small):
        """Round-4 rewrite: the correlated per-part average is a window
        after the broadcast part semi-join — exactly one lineitem scan
        (the de-correlated form Catalyst produces from the SQL text
        scans it twice)."""
        plan = plan_text(spark, "q17_small_quantity_revenue", sf_small)
        scans = [
            l
            for l in plan.splitlines()
            if "FileScan parquet" in l and "lineitem" in l
        ]
        assert len(scans) == 1, plan

    def test_epoch_shuffle_exchanges_on_shard(self, spark, sf_small):
        """The epoch order must never funnel through a single-partition
        global sort: the window exchange hashes on shard."""
        plan = plan_text(spark, "epoch_shuffle_order", sf_small)
        assert "Exchange hashpartitioning(shard" in plan
        assert "Exchange SinglePartition" not in plan

    def test_training_mix_single_corpus_exchange(self, spark, sf_small):
        """The composed epoch build's only corpus-sized exchange is the
        shard cumsum; the rebalance side exchanges only per-domain
        counts (tiny) and broadcasts back."""
        plan = plan_text(spark, "training_mix_order", sf_small)
        assert "Exchange hashpartitioning(shard" in plan
        assert "Exchange SinglePartition" not in plan or "count" in plan

    def test_approx_distinct_has_no_expand_or_join(self, spark, sf_small):
        plan = plan_text(spark, "approx_distinct_users", sf_small)
        assert "Expand" not in plan
        assert "Join" not in plan


class TestRound5PlanPins:
    def test_corpus_diff_text_never_reaches_join(self, spark, sf_small):
        """Both snapshots reduce to (id, digest) inside the scan-side
        projection, so the full-outer shuffle carries 40 bytes/row, not
        document text."""
        plan = plan_text(spark, "corpus_diff_status", sf_small)
        assert "FullOuter" in plan
        # the digest projection sits below the join: no exchange row
        # should reference the raw text column
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "text" not in line, line

    def test_embedding_quantization_is_narrow(self, spark, sf_small):
        plan = plan_text(spark, "embedding_quantization", sf_small)
        assert "Exchange hashpartitioning" not in plan
        assert "Join" not in plan

    def test_stats_moments_single_two_phase_aggregate(self, spark, sf_small):
        plan = plan_text(spark, "stats_moments_returnflag", sf_small)
        assert plan.count("HashAggregate") == 2  # partial + final
        assert "Join" not in plan

    def test_repeated_ngram_spans_island_window_on_doc_id(self, spark, sf_small):
        plan = plan_text(spark, "repeated_ngram_spans", sf_small)
        assert "LeftSemi" in plan
        assert "windowspecdefinition(doc_id" in plan
        assert "Cartesian" not in plan


class TestAnalyticsPlanPins:
    def test_funnel_has_no_joins_or_windows(self, spark, sf_small):
        plan = plan_text(spark, "funnel_stages", sf_small)
        assert "Join" not in plan and "Window" not in plan
        assert plan.count("HashAggregate") == 4  # two two-phase aggregates

    def test_retention_is_join_free_window_on_uid(self, spark, sf_small):
        """Round-5 scale fix: cohorting is a window MIN over uid — one
        events scan, no join. The old plan broadcast a user-count-sized
        cohort relation, which OOMs executors at 100 TB."""
        plan = plan_text(spark, "retention_cohorts", sf_small)
        assert "Join" not in plan
        scans = [
            l
            for l in plan.splitlines()
            if "FileScan parquet" in l and "events" in l
        ]
        assert len(scans) == 1, plan
        assert "Window" in plan and "uid" in plan

    def test_retention_parses_json_once_per_record(self, spark, sf_small):
        """Round-12: a pre-filter `uid IS NOT NULL` predicate-pushes
        below the projection and re-evaluates get_json_object per copy
        (the measured plan ran the parse THREE times per record). The
        NULL-uid rows are dropped by the post-aggregate n_active > 0
        filter instead, so the parse must appear exactly once."""
        plan = plan_text(spark, "retention_cohorts", sf_small)
        assert plan.count("get_json_object") == 1, plan

    def test_anomaly_broadcasts_stats(self, spark, sf_small):
        plan = plan_text(spark, "stream_anomaly_stats", sf_small)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_zorder_is_pure_codegen_over_one_scalar_broadcast(self, spark, sf_small):
        """The Morton code compiles to integer expressions on the scan;
        the only exchanges are the 1-row bounds aggregate and its
        broadcast — the corpus side never hash-shuffles and no Python
        UDF appears anywhere."""
        plan = plan_text(spark, "zorder_layout_orders", sf_small)
        assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar cross join
        assert "hashpartitioning" not in plan
        assert "Python" not in plan
        assert "Exchange SinglePartition" in plan  # the bounds aggregate

    def test_incremental_agg_merge_reuses_slice_partitioning(self, spark, sf_small):
        """The state merge aggregates directly over the Union of the
        already-hash-partitioned slices: exactly two exchanges (one per
        slice), none for the merge — the fold is state-sized."""
        plan = plan_text(spark, "incremental_agg_totals", sf_small)
        assert "Union" in plan
        assert plan.count("Exchange hashpartitioning") == 2
        # 3 two-phase aggregates: one per slice + the merge fold
        assert plan.count("HashAggregate") == 6


class TestScaleAuditCensus:
    def test_no_cartesian_or_row_udf_anywhere(self, spark, sf_small):
        """tools/scale_audit.py invariant over EVERY declared query:
        no CartesianProduct, no row-at-a-time Python UDF — the two
        plan shapes that disqualify a query at 100 TB regardless of
        how fast it runs at fixture scale."""
        import sys

        sys.path.insert(0, "/root/repo")
        from tools.scale_audit import audit_one
        from stream_loader_spark.plans.queries import QUERIES

        flagged = {}
        for name in QUERIES:
            flags = audit_one(plan_text(spark, name, sf_small))["flags"]
            if flags:
                flagged[name] = flags
        assert flagged == {}


class TestRuntimePruning:
    """Engine-side scale features exercised and pinned: Spark prunes
    at RUNTIME what static pushdown can't see — partition pruning from
    a join's dim side (DPP) and row-level bloom filters pushed into
    the fact scan. At 100 TB these decide whether a selective
    dim-join reads 1% or 100% of the fact table."""

    def test_dynamic_partition_pruning_from_dim_filter(self, spark, sf_small, tmp_path):
        import contextlib
        import io

        from stream_loader_spark.sources.tables import load_table

        ev = load_table(spark, sf_small, "events")
        (
            ev.select("event_id", "event_type", F.to_date("ts").alias("dt"))
            .write.partitionBy("dt")
            .mode("overwrite")
            .parquet(str(tmp_path / "fact"))
        )
        fact = spark.read.parquet(str(tmp_path / "fact"))
        dim = spark.createDataFrame(
            [(f"2024-01-0{i}", 1) for i in range(1, 4)], "dt_s string, flag int"
        ).select(F.col("dt_s").cast("date").alias("dt"), "flag")
        j = fact.join(dim.where(F.col("flag") == 1), "dt").groupBy("event_type").count()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain()
        assert "dynamicpruning" in buf.getvalue().lower()

    def test_runtime_bloom_filter_reaches_fact_side(self, spark, sf_medium):
        import contextlib
        import io

        from stream_loader_spark.sources.tables import load_table

        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.optimizer.runtime.bloomFilter.enabled",
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
                "spark.sql.autoBroadcastJoinThreshold",
            )
        }
        try:
            spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
            # local fixtures are far below the 10GB production default;
            # production keeps the threshold so small scans skip the filter
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
            )
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            li = load_table(spark, sf_medium, "lineitem")
            orders = load_table(spark, sf_medium, "orders").where(
                F.col("o_totalprice") > 400000
            )
            j = (
                li.join(orders, li.l_orderkey == orders.o_orderkey)
                .groupBy("o_orderpriority")
                .count()
            )
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                j.explain()
            assert "bloom_filter_agg" in buf.getvalue()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestRound5QueryPlans:
    def test_gopher_flags_is_one_codegen_scan(self, spark, sf_small):
        """Pure HOF column expressions: no shuffle, no Python, and only
        the two consumed columns reach the scan."""
        plan = plan_text(spark, "gopher_quality_flags", sf_small)
        assert "Exchange" not in plan
        assert "Python" not in plan
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "doc_id" in read_schema and "text" in read_schema
        assert "lang" not in read_schema and "source" not in read_schema

    def test_frequent_tokens_recount_is_broadcast_semi_shape(self, spark, sf_small):
        """Phase 2 (the evicted regime — at-scale vocabulary) recounts
        only the candidate set: the corpus side joins the (bounded)
        candidates via broadcast hash, then a two-phase count — the
        vocabulary never shuffles in full. Forced here with a capacity
        below the fixture vocabulary so eviction actually happens."""
        import contextlib
        import io
        import os

        from stream_loader_spark.operators.text import approx_frequent_tokens

        docs = spark.read.parquet(os.path.join(sf_small, "documents.parquet"))
        n_tokens = docs.selectExpr(
            "sum(size(filter(split(text, '\\\\s+'), x -> x != ''))) AS n"
        ).first()["n"]
        df = approx_frequent_tokens(docs, min_count=int(n_tokens), capacity=4)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        plan = buf.getvalue()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # partial+final for the recount AND for the candidate distinct
        assert plan.count("HashAggregate") == 4
        assert "partial_count" in plan  # map-side combine on the recount

    def test_frequent_tokens_fast_path_skips_recount_scan(self, spark, sf_small):
        """No-eviction regime (fixture vocabulary < capacity): the
        answer sums the materialized MG summaries — no broadcast
        recount join, no second corpus scan in the final plan."""
        plan = plan_text(spark, "frequent_tokens", sf_small)
        assert "BroadcastHashJoin" not in plan
        assert "FileScan" not in plan  # reads only the checkpointed summary

    def test_label_centroids_single_aggregation_chain(self, spark, sf_small):
        """posexplode → ONE map-side-combinable (label, pos) aggregate →
        labels-sized rollup; shuffle rows = groups × dim."""
        plan = plan_text(spark, "label_centroids", sf_small)
        assert "Generate posexplode" in plan
        assert plan.count("Exchange hashpartitioning") <= 2
        assert "Python" not in plan

    def test_profile_documents_is_single_expand_pass(self, spark, sf_small):
        """Five exact COUNT(DISTINCT)s plan through ONE Expand over one
        scan — adding profiled columns must never add scans."""
        plan = plan_text(spark, "profile_documents", sf_small)
        assert plan.count("FileScan") == 1
        assert "Expand" in plan


class TestDsumContract:
    """dsum's integer-cents fast path (plans/queries.py:dsum) silently
    assumes every aggregated column is an exact 2-decimal value with
    |v| < 10^6 — unlike the old ANSI decimal path it cannot detect a
    violation at run time, so the contract is enforced HERE: every
    fixture column that flows through dsum must round-trip through
    cents exactly. A new dsum call site over a >2-decimal column must
    extend this table or use the decimal form (DSUM_SQL)."""

    # (table, column) for every dsum(...) call site in plans/queries.py
    DSUM_COLUMNS = [
        ("events", "value"),
        ("lineitem", "l_quantity"),
        ("lineitem", "l_extendedprice"),
        ("orders", "o_totalprice"),
        ("customer", "c_acctbal"),
    ]

    @pytest.mark.parametrize("sf_dir_name", ["sf0.001", "sf0.01"])
    def test_dsum_columns_round_trip_as_cents(self, sf_dir_name):
        import duckdb

        sf_dir = f"/root/testdata/{sf_dir_name}"
        con = duckdb.connect()
        for table, col in self.DSUM_COLUMNS:
            bad = con.execute(
                f"SELECT COUNT(*) FROM '{sf_dir}/{table}.parquet' "
                f"WHERE {col} IS NOT NULL AND ("
                f"  CAST({col} AS DOUBLE) != ROUND(CAST({col} AS DOUBLE) * 100) / 100"
                f"  OR ABS({col}) >= 1e6)"
            ).fetchone()[0]
            assert bad == 0, (
                f"{table}.{col} has {bad} rows outside dsum's integer-cents "
                "contract (2-decimal, |v| < 1e6) — use the decimal path"
            )


class TestSinkFixtureGuard:
    """The k2/k8 on-disk fixture must be crash-safe and race-safe:
    builds serialize on an O_EXCL lock, the completion marker is the
    only 'usable' signal, and a complete fixture is never rebuilt."""

    @pytest.fixture(autouse=True)
    def _restore_build_flag(self, monkeypatch):
        # a build sets the module's FIXTURE_BUILT; keep it per test
        from stream_loader_spark.plans import queries as q

        monkeypatch.setattr(q, "FIXTURE_BUILT", False)

    def test_build_once_then_read_only(self, tmp_path):
        from stream_loader_spark.plans.queries import _build_fixture, _FIXTURE_DONE

        fdir = str(tmp_path / "fix")
        calls = []

        def build():
            calls.append(1)
            os.makedirs(fdir, exist_ok=True)

        _build_fixture(fdir, build)
        assert calls == [1]
        assert os.path.exists(os.path.join(fdir, _FIXTURE_DONE))
        assert not os.path.exists(fdir + ".lock")
        _build_fixture(fdir, build)  # complete → read-only, no rebuild
        assert calls == [1]

    def test_torn_build_is_retried(self, tmp_path):
        """A build that crashes before the marker is stamped leaves the
        fixture unusable; the next caller rebuilds under the lock."""
        import pytest

        from stream_loader_spark.plans.queries import _build_fixture, _FIXTURE_DONE

        fdir = str(tmp_path / "fix")
        attempts = []

        def crashing():
            attempts.append(1)
            os.makedirs(fdir, exist_ok=True)
            raise RuntimeError("die between data and marker")

        with pytest.raises(RuntimeError):
            _build_fixture(fdir, crashing)
        assert not os.path.exists(os.path.join(fdir, _FIXTURE_DONE))
        assert not os.path.exists(fdir + ".lock")  # lock released on crash

        def good():
            attempts.append(2)

        _build_fixture(fdir, good)
        assert attempts == [1, 2]
        assert os.path.exists(os.path.join(fdir, _FIXTURE_DONE))

    def test_waiter_returns_when_winner_finishes(self, tmp_path):
        """A second process blocked on the lock must return as soon as
        the winner stamps the marker — without re-running the build."""
        import threading

        from stream_loader_spark.plans.queries import _build_fixture

        fdir = str(tmp_path / "fix")
        calls = []
        release = threading.Event()

        def slow_build():
            calls.append("winner")
            release.wait(timeout=10)

        t = threading.Thread(target=_build_fixture, args=(fdir, slow_build))
        t.start()
        # wait until the winner holds the lock
        for _ in range(200):
            if os.path.exists(fdir + ".lock"):
                break
            time.sleep(0.01)
        waiter_done = []

        def waiter():
            _build_fixture(fdir, lambda: calls.append("loser"))
            waiter_done.append(True)

        t2 = threading.Thread(target=waiter)
        t2.start()
        time.sleep(0.3)
        assert not waiter_done  # still blocked on the winner's lock
        release.set()
        t.join(timeout=10)
        t2.join(timeout=10)
        assert waiter_done == [True]
        assert calls == ["winner"]  # the loser's build never ran

    def test_build_prunes_older_fixture_trees(self, tmp_path):
        """Building under the current token deletes the trees of older
        tokens; other fingerprints under the current token and other
        scratch dirs stay."""
        from stream_loader_spark.plans import queries as q

        root = tmp_path / "spark-warehouse"
        old = root / f"{q._FIXTURE_TREE}{q._FIXTURE_VERSION - 1}" / "sf0.001-1-2" / "k2_manifest"
        old.mkdir(parents=True)
        (old / q._FIXTURE_DONE).write_text("{}")
        cur = root / f"{q._FIXTURE_TREE}{q._FIXTURE_VERSION}"
        other = cur / "sf0.01-3-4" / "k2_manifest"
        other.mkdir(parents=True)
        (root / "scale_probe").mkdir()
        fdir = str(cur / "sf0.001-5-6" / "k2_manifest")
        q._build_fixture(fdir, lambda: None)
        assert sorted(os.listdir(root)) == sorted([cur.name, "scale_probe"])
        assert other.is_dir()
        assert os.path.exists(os.path.join(fdir, q._FIXTURE_DONE))

    def test_only_builds_are_recorded(self, tmp_path, monkeypatch):
        """``FIXTURE_BUILT`` (bench.py's ``fixture_reused``) is set by a
        build, not by a fixture found complete."""
        from stream_loader_spark.plans import queries as q

        fdir = str(tmp_path / "fix")
        q._build_fixture(fdir, lambda: None)
        assert q.FIXTURE_BUILT is True
        monkeypatch.setattr(q, "FIXTURE_BUILT", False)
        q._build_fixture(fdir, lambda: None)  # complete: reused
        assert q.FIXTURE_BUILT is False

    def test_fingerprint_uses_nanosecond_mtime(self):
        from stream_loader_spark.plans.queries import _sink_fixture_dir

        st = os.stat("/root/testdata/sf0.001/events.parquet")
        d = _sink_fixture_dir("/root/testdata/sf0.001", "k2_manifest")
        assert str(st.st_mtime_ns) in d


class TestScatterByKey:
    """r12: scatter(by=...) hash-partitions so a downstream per-doc
    aggregate/window REUSES the scatter exchange instead of adding its
    own — pinned here because the win is silent to correctness tests."""

    def test_scatter_by_partitioning_reused_through_explode(self, spark):
        from stream_loader_spark.sources.tables import scatter

        df = spark.range(1000).selectExpr(
            "id AS doc_id", "array('a','b','c') AS toks"
        )
        out = (
            scatter(df, by=("doc_id",))
            .select("doc_id", F.explode("toks").alias("t"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n"))
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # exactly the scatter exchange; the aggregate added none
        assert plan.count("Exchange ") == 1
        assert "hashpartitioning(doc_id" in plan

    def test_scatter_by_is_idempotent_on_already_scattered_input(self, spark):
        # r13 (VERDICT item 8): an input that IS already a hash
        # repartition on the key — an upstream scatter(by=...) handed
        # straight in — must not pay a second, byte-identical exchange
        # at any scale. A DIFFERENT key must still respread.
        from stream_loader_spark.sources.tables import scatter

        df = spark.range(1000).selectExpr("id AS doc_id", "id % 7 AS k")
        once = scatter(df, by=("doc_id",))
        twice = scatter(once, by=("doc_id",))
        assert twice is once
        plan = twice._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange ") == 1
        # re-keying still respreads — and Catalyst's CollapseRepartition
        # folds the stacked repartitions into ONE exchange on the new
        # key, so even the rekey pays a single shuffle
        rekeyed = scatter(once, by=("k",))
        assert rekeyed is not once
        plan2 = rekeyed._jdf.queryExecution().executedPlan().toString()
        assert plan2.count("Exchange ") == 1
        assert "hashpartitioning(k" in plan2

    def test_scatter_by_respreads_a_range_repartition_on_the_key(self, spark):
        # a range repartition prints the same RepartitionByExpression
        # node as a hash one; it is not hash clustering, so scatter(by=)
        # must still add its hash exchange
        from stream_loader_spark.sources.tables import scatter

        ranged = spark.range(1000).selectExpr("id AS doc_id").repartitionByRange(8, "doc_id")
        out = scatter(ranged, by=("doc_id",), min_partitions=8)
        assert out is not ranged
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(doc_id" in plan

    def test_scatter_by_memoized_separately_from_round_robin(self, spark):
        from stream_loader_spark.sources.tables import scatter

        df = spark.range(100).selectExpr("id AS doc_id")
        rr = scatter(df)
        by = scatter(df, by=("doc_id",))
        assert scatter(df) is rr
        assert scatter(df, by=("doc_id",)) is by
        assert rr is not by

    def test_per_doc_aggregates_ride_the_scatter(self, spark, sf_small):
        # the operators converted in r12: their plans must keep exactly
        # one hash exchange on the doc id and no post-explode exchange
        for name in ("repetition_stats", "benchmark_contamination"):
            plan = plan_text(spark, name, sf_small)
            assert "hashpartitioning(doc_id" in plan, name

    def test_dsir_feature_build_rides_the_scatter(self, spark, sf_small):
        # r12: the checkpointed hashed_feature_counts block must pay ONE
        # exchange — the doc-id hash-scatter of the RAW rows — with the
        # per-(doc, bucket) aggregate reusing it (grouping on a superset
        # of the id). The old shape added a round-robin respread plus a
        # hash exchange of the partial-aggregated (doc, bucket) rows,
        # which at x32 measured 77.0 s vs 11.2 s for this shape.
        from stream_loader_spark.operators.dsir import hashed_feature_counts
        from stream_loader_spark.sources.tables import load_table

        docs = load_table(spark, sf_small, "documents")
        flagged = docs.withColumn("_t", F.col("source") == "src0")
        plan = (
            hashed_feature_counts(flagged, extra_cols=("_t",))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange ") == 1
        assert "hashpartitioning(doc_id" in plan
        assert "RoundRobinPartitioning" not in plan

    def test_scatter_derived_frame_is_jobless_noop(self, spark):
        # r12: scatter() must never EXECUTE at construction time. For a
        # frame whose lineage contains a width-giving operator (join,
        # aggregate, ...), probing df.rdd would materialize every
        # upstream exchange as thrown-away jobs under AQE (measured >1s
        # per composed query) — so scatter must return the frame
        # unchanged WITHOUT running a single job.
        from stream_loader_spark.sources.tables import scatter

        a = spark.range(1000).selectExpr("id AS doc_id", "id % 7 AS g")
        agg = a.groupBy("g").agg(F.count("*").alias("n"))
        joined = a.join(agg, "g")
        with job_group(spark) as probe:
            out = scatter(joined)
        assert out is joined  # no-op: parallelism is arranged upstream
        assert probe.job_ids() == []

    def test_scatter_checkpointed_frame_still_respreads(self, spark):
        # localCheckpoint DROPS partitioning and truncates lineage to a
        # LogicalRDD — narrow, so the probe is free and the respread
        # (load-bearing after every checkpoint locally) must survive.
        from stream_loader_spark.sources.tables import scatter

        one = spark.range(500).coalesce(1).localCheckpoint(eager=True)
        par = spark.sparkContext.defaultParallelism
        assert scatter(one).rdd.getNumPartitions() >= min(par, 500)


class TestFuzzyValsPinned:
    """r12: blocked_fuzzy_pairs pins the distinct (block, value) table —
    both self-join sides and both expansion joins read ONE materialized
    block instead of re-running the corpus-wide distinct (a broadcast
    boundary sits between the self-join sides, where cross-subtree
    ReusedExchange never fires). Silent to correctness tests."""

    def test_distinct_value_table_materialized_once(self, spark, sf_small):
        plan = plan_text(spark, "fuzzy_part_matches", sf_small)
        # only the two row-expansion joins touch parquet; the candidate
        # self-join's both sides read the checkpointed RDD
        assert plan.count("Scan parquet") == 2
        assert plan.count("Scan ExistingRDD") == 2
        # the distinct aggregate ran at pin time, not in this plan
        assert "HashAggregate" not in plan
