"""Operator-quality tests: the checks the DuckDB oracle can't express —
approximate-operator recall vs exact baselines, multimodal plumbing
shapes, streaming watermark clamp semantics."""

import pytest
from pyspark.sql import functions as F

from stream_loader_spark.sources.tables import load_table
from stream_loader_spark.operators.dedup import (
    with_minhash,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    with_simhash,
    simhash_pairs,
)
from stream_loader_spark.operators.similarity import (
    auto_lsh_params,
    brute_force_topk,
    ivf_topk,
    cosine_near_dup_pairs,
)
from stream_loader_spark.operators.multimodal import (
    synthetic_media,
    extract_features,
    sample_frames,
    decode_image,
    FEATURE_DIM,
    _HAS_PIL,
)


@pytest.fixture(scope="module")
def docs_with_dups(spark, sf_small):
    """documents + exact copies (ids +10000) and lightly-edited copies
    (ids +20000, one word changed) — known near-dup ground truth."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text", "lang")
    copies = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text", "lang")
    edited = docs.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.lit("edited "), F.col("text")).alias("text"),
        "lang",
    )
    return docs.unionAll(copies).unionAll(edited).cache()


class TestMinHashLSH:
    def test_signature_shape_and_determinism(self, spark, sf_small):
        docs = load_table(spark, sf_small, "documents")
        s1 = {r["doc_id"]: r["minhash"] for r in with_minhash(docs).collect()}
        s2 = {r["doc_id"]: r["minhash"] for r in with_minhash(docs).collect()}
        assert s1 == s2
        from stream_loader_spark.operators.dedup import NUM_HASHES
        assert all(len(v) == NUM_HASHES for v in s1.values())

    def test_signature_values_are_pinned_to_the_stamped_scheme(self, spark):
        """GOLDEN values: persisted band indexes depend on the exact
        hash family — seed literal TYPES included (xxhash64(x, 5) !=
        xxhash64(x, 5L)). An implementation change that alters these
        values must bump dedup.SIGNATURE_SCHEME (and this test), or
        old indexes would be probed with meaningless hashes."""
        from stream_loader_spark.operators.dedup import (
            SIGNATURE_SCHEME,
            with_simhash,
        )

        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        mh = with_minhash(docs).collect()[0]["minhash"]
        assert mh[:4] == [
            -5914730673032327641,
            -6515145331195677909,
            -2190217279903150044,
            -3477793475757806709,
        ]
        sh = with_simhash(docs).collect()[0]["simhash"]
        assert sh == -1263619387986325520
        assert SIGNATURE_SCHEME == "xxh64-seeded-h32-b16-s3"

    def test_finds_exact_and_near_duplicates(self, docs_with_dups):
        pairs = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in minhash_lsh_pairs(docs_with_dups, threshold=0.5).collect()
        }
        base_ids = {d for a, b in pairs for d in (a, b) if d < 10000}
        # every exact copy pair must be found with jaccard 1.0
        exact = {(a, b): j for (a, b), j in pairs.items() if a < 10000 and b == a + 10000}
        n_docs = docs_with_dups.where(F.col("doc_id") < 10000).count()
        assert len(exact) >= 0.95 * n_docs  # LSH recall on identical docs
        assert all(j == 1.0 for j in exact.values())
        # edited copies are near-dups: most should surface too
        edited = {(a, b) for (a, b) in pairs if a < 10000 and b == a + 20000}
        assert len(edited) >= 0.7 * n_docs
        assert base_ids  # sanity: pairs reference original docs

    def test_agrees_with_exact_jaccard_on_reported_pairs(self, docs_with_dups):
        lsh = minhash_lsh_pairs(docs_with_dups, threshold=0.5)
        exact = ngram_jaccard_pairs(docs_with_dups, threshold=0.5, block_col="lang")
        lang = {r["doc_id"]: r["lang"] for r in docs_with_dups.select("doc_id", "lang").collect()}
        lsh_same_lang = {
            (r["doc_a"], r["doc_b"])
            for r in lsh.collect()
            if lang[r["doc_a"]] == lang[r["doc_b"]]
        }
        exact_pairs = {(r["doc_a"], r["doc_b"]) for r in exact.collect()}
        # LSH verifies candidates with true Jaccard → no false positives
        assert lsh_same_lang <= exact_pairs
        # and banding recall on above-threshold pairs stays high
        assert len(lsh_same_lang) >= 0.8 * len(exact_pairs)


class TestSimHash:
    def test_identical_docs_have_identical_simhash(self, spark, docs_with_dups):
        sh = {r["doc_id"]: r["simhash"] for r in with_simhash(docs_with_dups).collect()}
        base = [d for d in sh if d < 10000]
        assert all(sh[d] == sh[d + 10000] for d in base)

    def test_pairs_include_all_exact_copies(self, docs_with_dups):
        pairs = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in simhash_pairs(docs_with_dups).collect()
        }
        n_docs = docs_with_dups.where(F.col("doc_id") < 10000).count()
        exact = {(a, b): h for (a, b), h in pairs.items() if a < 10000 and b == a + 10000}
        assert len(exact) == n_docs  # hamming 0 always collides on every chunk
        assert all(h == 0 for h in exact.values())


class TestSimilarity:
    def test_ivf_recall_vs_brute_force(self, spark, sf_small):
        emb = load_table(spark, sf_small, "embeddings")
        qids = list(range(10))
        exact = brute_force_topk(emb, qids, k=5)
        approx = ivf_topk(emb, qids, k=5, num_centroids=8, nprobe=4)
        e = {(r["query_id"], r["match_id"]) for r in exact.collect()}
        a = {(r["query_id"], r["match_id"]) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= 0.3  # probing half the clusters on random vectors

    def test_brute_force_self_consistency(self, spark, sf_small):
        emb = load_table(spark, sf_small, "embeddings")
        # duplicate vector 0 as id 99999: it must be vector 0's top match
        dup = emb.where(F.col("vec_id") == 0).select(
            F.lit(99999).cast("long").alias("vec_id"), "embedding", "label"
        )
        top = brute_force_topk(emb.unionAll(dup), [0], k=1).collect()
        assert top[0]["match_id"] == 99999
        assert top[0]["cosine"] == 1.0

    def test_near_dup_pairs_verified(self, spark, sf_small):
        emb = load_table(spark, sf_small, "embeddings")
        dup = emb.where(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 50000).alias("vec_id"), "embedding", "label"
        )
        pairs = cosine_near_dup_pairs(emb.unionAll(dup), threshold=0.99).collect()
        found = {(r["vec_a"], r["vec_b"]) for r in pairs}
        assert {(i, i + 50000) for i in range(5)} <= found
        assert all(r["cosine"] >= 0.99 for r in pairs)

    def test_oversized_bucket_star_links_through_min_id(self, spark, sf_small):
        """With max_bucket forced below a boilerplate cluster's size,
        the bucket must star-link through its min id (O(B) pairs, all
        exact-verified) instead of expanding B·(B-1)/2 — and the
        cluster stays recoverable: every member pairs with the rep."""
        emb = load_table(spark, sf_small, "embeddings")
        # 12 copies of vector 0 under fresh ids = one degenerate bucket
        clones = None
        for i in range(12):
            c = emb.where(F.col("vec_id") == 0).select(
                F.lit(90000 + i).cast("long").alias("vec_id"), "embedding", "label"
            )
            clones = c if clones is None else clones.unionAll(c)
        pairs = cosine_near_dup_pairs(
            emb.unionAll(clones), threshold=0.999, max_bucket=5
        ).collect()
        found = {(r["vec_a"], r["vec_b"]) for r in pairs}
        # rep is the cluster's min id = the original vector 0
        assert {(0, 90000 + i) for i in range(12)} <= found
        # capped: nothing like the 78-pair full expansion of the clones
        clone_pairs = {
            p for p in found if p[0] >= 90000 and p[1] >= 90000
        }
        assert len(clone_pairs) == 0

    def test_auto_lsh_sizing_rule(self):
        """The default-argument path must never be quadratic: planes
        grow as log2(N / target_bucket) so the candidate floor
        num_bands·N²/2^(planes+1) stays ~linear in N, and bands re-grow
        (capped) to hold recall at the threshold. Pins the rule the r9
        scale probe measured (exponent 1.83 pinned vs 0.80 grown)."""
        import math

        # small corpora keep the minimum 8 planes
        assert auto_lsh_params(200, 0.95)[0] == 8
        # planes track log2(N / target_bucket): 2M / 4 -> 19 planes
        planes, bands = auto_lsh_params(2_000_000, 0.95)
        assert planes == 19
        # expected bucket population is held at ~target_bucket: the
        # candidate floor bands·N²/2^(planes+1) is then O(bands·N·tb)
        assert 2_000_000 / 2**planes <= 4
        # bands hold the recall target at the threshold, up to the cap
        p = 1.0 - math.acos(0.95) / math.pi
        q = p**planes
        assert 1.0 - (1.0 - q) ** bands >= 0.9 or bands == 16
        # TRUE near-dups (cosine ~0.995) keep high recall even at the cap
        p_dup = 1.0 - math.acos(0.995) / math.pi
        assert 1.0 - (1.0 - p_dup**planes) ** bands >= 0.95
        # low thresholds would demand thousands of bands: capped
        assert auto_lsh_params(2_000_000, 0.35)[1] <= 16
        # threshold 1.0 needs exactly one band
        assert auto_lsh_params(10_000, 1.0)[1] == 1
        # monotone: 128x the corpus, exactly +7 planes
        assert auto_lsh_params(256_000_000, 0.95)[0] == planes + 7
        # the per-vector stray-verify budget is bounded by the rule
        for n in (10_000, 1_000_000, 100_000_000):
            pl, b = auto_lsh_params(n, 0.95)
            assert b * n / 2 ** (pl + 1) * 2 <= b * 4  # floor/N <= bands*tb

    def test_auto_defaults_match_explicit_params(self, spark, sf_small):
        """cosine_near_dup_pairs under DEFAULT arguments must produce
        exactly the pairs of the explicitly-passed derived parameters —
        the auto path is a sizing convenience, not a new algorithm."""
        emb = load_table(spark, sf_small, "embeddings")
        n = emb.where(F.size("embedding") == 64).count()
        planes, bands = auto_lsh_params(n, 0.99)
        auto = {
            (r["vec_a"], r["vec_b"])
            for r in cosine_near_dup_pairs(emb, threshold=0.99).collect()
        }
        explicit = {
            (r["vec_a"], r["vec_b"])
            for r in cosine_near_dup_pairs(
                emb, threshold=0.99, num_planes=planes, num_bands=bands, dim=64
            ).collect()
        }
        assert auto == explicit


class TestMultimodal:
    def test_feature_extraction_shape(self, spark, sf_small):
        media = synthetic_media(load_table(spark, sf_small, "documents"))
        feats = extract_features(media)
        rows = feats.collect()
        assert len(rows) == media.count()
        assert all(len(r["feature"]) == FEATURE_DIM for r in rows)
        # histograms are normalized
        assert all(abs(sum(r["feature"]) - 1.0) < 1e-9 for r in rows)

    def test_frame_sampling(self, spark, sf_small):
        media = synthetic_media(load_table(spark, sf_small, "documents"))
        frames = sample_frames(media, every_k=4, frame_size=32)
        rows = frames.collect()
        assert rows, "video payloads must produce frames"
        assert all(r["frame_index"] % 4 == 0 for r in rows)
        assert all(len(r["frame"]) <= 32 for r in rows)

    def test_decode_image_is_stubbed_without_codec(self, spark, sf_small):
        media = synthetic_media(load_table(spark, sf_small, "documents"))
        if not _HAS_PIL:
            with pytest.raises(NotImplementedError):
                decode_image(media)


class TestStreamingWatermarkClamp:
    def test_clamp_filters_future_rows_in_stream(self, spark, tmp_path):
        from stream_loader_spark.streaming.pipeline import StreamPipeline
        from stream_loader_spark.sinks.manifest import ManifestFileSink

        src = str(tmp_path / "src")
        rows = spark.range(10).select(
            F.lit("t").alias("topic"),
            F.lit(0).cast("int").alias("partition"),
            F.col("id").alias("offset"),
            F.when(
                F.col("id") < 8, F.current_timestamp() - F.expr("INTERVAL 1 MINUTE")
            )
            .otherwise(F.current_timestamp() + F.expr("INTERVAL 9 HOURS"))
            .alias("ts"),
        )
        rows.coalesce(1).write.parquet(src)
        sink = ManifestFileSink(str(tmp_path / "out"))
        (
            StreamPipeline(spark)
            .from_file_stream(src, "topic string, partition int, offset bigint, ts timestamp")
            .clamp_watermark("ts", delay="1 minute", valid_diff="INTERVAL 1 HOUR")
            .sink(sink, str(tmp_path / "cp"))
            .run_available()
        )
        data = sink.committed_data(spark)
        assert data.count() == 8  # the 2 far-future rows were clamped out
        assert data.agg(F.max("offset")).collect()[0][0] == 7


class TestDedupComponents:
    def test_chain_becomes_one_cluster(self, spark):
        from stream_loader_spark.operators.dedup import (
            dedup_components,
            dedup_keep_representative,
        )

        docs = spark.createDataFrame([(i, f"d{i}") for i in range(6)], "doc_id long, text string")
        # chain 0-1-2, pair 3-4, singleton 5 (intransitive edges still cluster)
        pairs = spark.createDataFrame(
            [(0, 1, 0.9), (1, 2, 0.9), (3, 4, 0.8)], "doc_a long, doc_b long, jaccard double"
        )
        comps = {r["doc_id"]: r["cluster_id"] for r in dedup_components(docs, pairs).collect()}
        assert comps == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}

        kept = sorted(r["doc_id"] for r in dedup_keep_representative(docs, pairs).collect())
        assert kept == [0, 3, 5]

    def test_end_to_end_removes_known_duplicates(self, spark, docs_with_dups):
        from stream_loader_spark.operators.dedup import (
            minhash_lsh_pairs,
            dedup_keep_representative,
        )

        pairs = minhash_lsh_pairs(docs_with_dups, threshold=0.5)
        kept = dedup_keep_representative(docs_with_dups, pairs)
        n_docs = docs_with_dups.where(F.col("doc_id") < 10000).count()
        # all exact copies (ids +10000) must be gone; their originals kept
        kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        copies_surviving = sum(1 for i in kept_ids if 10000 <= i < 20000)
        assert copies_surviving <= 0.05 * n_docs


class TestApproxDistinct:
    def test_hll_within_rsd_of_exact(self, spark, sf_small):
        from stream_loader_spark.sources.kafka_view import as_stream_records

        rec = as_stream_records(load_table(spark, sf_small, "events"))
        exact = {
            (r["topic"],): r["d"]
            for r in rec.groupBy("topic").agg(F.count_distinct("value").alias("d")).collect()
        }
        approx = {
            (r["topic"],): r["d"]
            for r in rec.groupBy("topic")
            .agg(F.approx_count_distinct("value", rsd=0.02).alias("d"))
            .collect()
        }
        for k, exact_d in exact.items():
            assert abs(approx[k] - exact_d) <= max(5, 0.1 * exact_d)


class TestSaltedJoin:
    def test_matches_unsalted_join(self, spark):
        from stream_loader_spark.operators.skew import salted_join

        # heavily skewed big side: 90% of rows share key 1
        big = spark.range(1000).select(
            F.when(F.col("id") < 900, 1).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.createDataFrame([(1, "hot"), (950, "cold")], "k long, label string")
        expected = sorted(
            map(tuple, big.join(small, ["k"]).select("k", "payload", "label").collect())
        )
        got = sorted(
            map(
                tuple,
                salted_join(big, small, ["k"], salt_buckets=8)
                .select("k", "payload", "label")
                .collect(),
            )
        )
        assert got == expected
        assert len(got) == 901


class TestKMeansIVF:
    def test_refined_centroids_do_not_hurt_recall(self, spark, sf_small):
        from stream_loader_spark.operators.similarity import (
            brute_force_topk,
            ivf_topk,
            kmeans_centroids,
        )

        emb = load_table(spark, sf_small, "embeddings")
        qids = list(range(10))
        exact = {(r["query_id"], r["match_id"]) for r in brute_force_topk(emb, qids, k=5).collect()}

        def recall(approx_df):
            a = {(r["query_id"], r["match_id"]) for r in approx_df.collect()}
            return len(exact & a) / len(exact)

        seed_recall = recall(ivf_topk(emb, qids, k=5, num_centroids=8, nprobe=4))
        refined_recall = recall(
            ivf_topk(emb, qids, k=5, num_centroids=8, nprobe=4, kmeans_iterations=3)
        )
        assert refined_recall >= seed_recall - 0.1  # refinement never collapses

    def test_centroid_shape(self, spark, sf_small):
        from stream_loader_spark.operators.similarity import kmeans_centroids

        emb = load_table(spark, sf_small, "embeddings")
        cents = kmeans_centroids(emb, num_centroids=4, iterations=2).collect()
        assert len(cents) == 4
        dim = len(emb.select("embedding").first()[0])
        assert all(len(r["centroid_vec"]) == dim for r in cents)


class TestCleanCorpus:
    def test_pipeline_shrinks_and_keeps_survivor_metadata(self, spark, docs_with_dups):
        from stream_loader_spark.operators.corpus import clean_corpus, CorpusCleanConfig

        n_in = docs_with_dups.count()  # originals + exact copies + edited copies
        cleaned = clean_corpus(docs_with_dups, CorpusCleanConfig(min_quality=0.1))
        rows = cleaned.collect()
        assert 0 < len(rows) < n_in
        # every exact copy (ids +10000) must be removed by one of the stages
        ids = {r["doc_id"] for r in rows}
        n_copies_left = sum(1 for i in ids if 10000 <= i < 20000)
        assert n_copies_left <= 0.05 * (n_in / 3)
        assert {"pred_lang", "quality_score", "token_count"} <= set(cleaned.columns)

    def test_repeat_call_reuses_spark_cache_and_survives_clear_cache(self, spark, sf_small):
        """Both persisted frames of a second call over a fresh read of the
        same table are found in Spark's cache, so no new RDD is pinned;
        after clearCache a third call recomputes the same rows."""
        from stream_loader_spark.operators.corpus import clean_corpus, CorpusCleanConfig
        from stream_loader_spark.sources.tables import load_table, table_path

        def pinned():
            # count the RDDs Spark builds for cached frames (named after
            # their plan); the near-dup stage's localCheckpoints are per
            # call, unnamed, and released by the ContextCleaner
            rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
            return sum(r.name() is not None for r in rdds)

        config = CorpusCleanConfig(keep_langs=("en", "de"), min_quality=0.25)
        before = pinned()
        first = sorted(clean_corpus(load_table(spark, sf_small, "documents"), config).collect())
        after_first = pinned()
        fresh = spark.read.parquet(table_path(sf_small, "documents"))
        second = sorted(clean_corpus(fresh, config).collect())
        assert after_first - before == 2
        assert pinned() == after_first

        spark.catalog.clearCache()
        third = sorted(clean_corpus(fresh, config).collect())
        spark.catalog.clearCache()
        assert first and first == second == third


class TestReviewRegressions:
    def test_salted_join_rejects_right_and_full(self, spark):
        from stream_loader_spark.operators.skew import salted_join

        big = spark.createDataFrame([(1, "x")], "k long, v string")
        small = spark.createDataFrame([(1, "y")], "k long, w string")
        for how in ("right", "full", "outer"):
            with pytest.raises(ValueError, match="salted_join supports"):
                salted_join(big, small, ["k"], how=how)
        # left keeps unmatched big rows exactly once
        big2 = spark.createDataFrame([(1, "x"), (2, "z")], "k long, v string")
        rows = salted_join(big2, small, ["k"], how="left").collect()
        assert len(rows) == 2

    def test_components_converge_on_long_chain(self, spark, monkeypatch):
        from stream_loader_spark.operators import dedup as mod

        n = 30
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        chain = spark.createDataFrame(
            [(i, i + 1, 0.9) for i in range(n - 1)], "doc_a long, doc_b long, jaccard double"
        )
        # small-graph fast path: driver-side union-find
        comps = {r["doc_id"]: r["cluster_id"] for r in mod.dedup_components(docs, chain).collect()}
        assert set(comps.values()) == {0}  # one cluster, fully propagated

        # force the DISTRIBUTED path (what big graphs take): same answer
        monkeypatch.setattr(mod, "SMALL_GRAPH_EDGES", 0)
        comps = {r["doc_id"]: r["cluster_id"] for r in mod.dedup_components(docs, chain).collect()}
        assert set(comps.values()) == {0}

        with pytest.raises(RuntimeError, match="did not converge"):
            mod.dedup_components(docs, chain, max_iterations=3)


class TestAsofJoinSemantics:
    def test_null_payload_fields_are_not_resurrected(self, spark):
        """The carried payload must be the WHOLE latest right row — a NULL
        field in it stays NULL instead of leaking from an older row."""
        from stream_loader_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, 3)], "k long, t long")
        right = spark.createDataFrame(
            [(1, 1, 5, 100.0), (1, 2, 7, None)],
            "k long, rt long, okey long, price double",
        )
        row = asof_join(
            left, right, key="k", left_time="t", right_time="rt",
            payload_cols=["okey", "price"], tie_break="okey",
        ).collect()[0]
        assert row["okey"] == 7
        assert row["price"] is None  # NOT 100.0 from the older row

    def test_unmatched_left_rows_keep_null_payload(self, spark):
        from stream_loader_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, 0), (2, 5)], "k long, t long")
        right = spark.createDataFrame([(1, 1, 9)], "k long, rt long, okey long")
        rows = {r["k"]: r["okey"] for r in asof_join(
            left, right, key="k", left_time="t", right_time="rt",
            payload_cols=["okey"], tie_break="okey",
        ).collect()}
        assert rows == {1: None, 2: None}  # t=0 precedes rt=1; k=2 has no right


class TestHistogramDims:
    def test_non_divisor_dim_stays_within_bounds(self):
        from stream_loader_spark.operators.multimodal import _byte_histogram

        for dim in (12, 16, 10, 7):
            h = _byte_histogram(bytes(range(256)), dim)
            assert len(h) == dim
            assert abs(sum(h) - 1.0) < 1e-9


class TestBinaryFormatters:
    """P2/E4/E5 formatter seams. The spark-avro / spark-protobuf jars
    are external packages absent in this environment, so the golden
    decode tests skip cleanly when the probe fails; the error contract
    (clear message naming the package) is asserted either way."""

    def test_availability_probes_are_false_without_jars(self, spark):
        from stream_loader_spark.operators.projection import (
            avro_available,
            protobuf_available,
        )

        # this environment ships no external packages; on a cluster with
        # them the probes flip to True and the golden tests below run
        assert avro_available(spark) in (True, False)
        assert protobuf_available(spark) in (True, False)

    def test_avro_formatter_errors_clearly_without_jar(self, spark):
        from stream_loader_spark.operators.projection import (
            avro_available,
            avro_formatted_records,
        )

        if avro_available(spark):
            pytest.skip("spark-avro present: covered by the golden test")
        df = spark.createDataFrame([(bytearray(b"\x02"),)], "value binary")
        with pytest.raises(RuntimeError, match="spark-avro"):
            avro_formatted_records(df, '{"type":"int"}')

    def test_protobuf_formatter_errors_clearly_without_jar(self, spark):
        from stream_loader_spark.operators.projection import (
            protobuf_available,
            protobuf_formatted_records,
        )

        if protobuf_available(spark):
            pytest.skip("spark-protobuf present: covered by the golden test")
        df = spark.createDataFrame([(bytearray(b"\x08\x01"),)], "value binary")
        with pytest.raises(RuntimeError, match="spark-protobuf"):
            protobuf_formatted_records(df, "M")

    def test_avro_golden_decode(self, spark):
        """Hand-encoded Avro binary record {k: 1, name: 'ab'} — zigzag
        varint 1 = 0x02, string length 2 = 0x04 then the bytes. Runs
        only with spark-avro on the classpath."""
        from stream_loader_spark.operators.projection import (
            avro_available,
            avro_formatted_records,
        )

        if not avro_available(spark):
            pytest.skip("spark-avro not on the classpath")
        schema = (
            '{"type":"record","name":"r","fields":'
            '[{"name":"k","type":"int"},{"name":"name","type":"string"}]}'
        )
        # the second payload ends before its string: PERMISSIVE decodes
        # it to a NULL record, and the row keeps its bytes
        df = spark.createDataFrame(
            [(0, bytearray(b"\x02\x04ab")), (1, bytearray(b"\x02"))], "i int, value binary"
        )
        out = avro_formatted_records(df, schema).orderBy("i").collect()
        assert [(r["k"], r["name"], r["value"]) for r in out] == [
            (1, "ab", None),
            (None, None, bytearray(b"\x02")),
        ]


class TestFormatterContract:
    """A formatter emits the formatted record: the input's columns, then
    the typed columns; the payload column holds a value only on rows
    that did not parse."""

    SCHEMA = "k INT, v STRING"
    # (offset, payload, typed (k, v), payload kept)
    ROWS = [
        (0, '{"k": 1, "v": "a"}', (1, "a"), False),
        (1, '{"k": 2, "v": "b", "extra": [1, 2]}', (2, "b"), False),
        (2, '{"v": "c"}', (None, "c"), False),  # a missing key is not corrupt
        (3, '{"k": "x", "v": "d"}', (None, "d"), True),  # type mismatch
        (4, '{"k": 99999999999}', (None, None), True),  # overflows INT
        (5, '{{"k": 5}', (None, None), True),  # malformed
        (6, "[1, 2]", (None, None), True),  # not an object
        (7, None, (None, None), False),
    ]

    def _records(self, spark):
        return spark.createDataFrame(
            [("t", 0, o, p) for o, p, _, _ in self.ROWS],
            "topic string, partition int, offset bigint, props string",
        )

    def test_payload_kept_only_where_it_did_not_parse(self, spark):
        from stream_loader_spark.operators.projection import formatted_records

        out = formatted_records(self._records(spark), self.SCHEMA)
        assert out.columns == ["topic", "partition", "offset", "props", "k", "v"]
        got = {r["offset"]: ((r["k"], r["v"]), r["props"]) for r in out.collect()}
        assert got == {o: (typed, p if kept else None) for o, p, typed, kept in self.ROWS}

    def test_typed_columns_match_a_plain_parse(self, spark):
        """Detecting corrupt payloads changes no typed value: the typed
        columns are those of a permissive ``from_json`` without the
        corrupt-record channel."""
        from stream_loader_spark.operators.projection import formatted_records

        records = self._records(spark)
        plain = records.select("offset", F.from_json("props", self.SCHEMA).alias("p"))
        want = {
            r["offset"]: (r["p"]["k"], r["p"]["v"]) if r["p"] else (None, None)
            for r in plain.collect()
        }
        out = formatted_records(records, self.SCHEMA).collect()
        assert {r["offset"]: (r["k"], r["v"]) for r in out} == want

    def test_split_routes_on_the_kept_payload(self, spark):
        from stream_loader_spark.operators.projection import formatted_records_split

        records = self._records(spark)
        good, bad = formatted_records_split(records, self.SCHEMA)
        kept = {o for o, _, _, k in self.ROWS if k}
        assert sorted(r["offset"] for r in good.collect()) == sorted(
            o for o, _, _, k in self.ROWS if not k
        )
        assert good.where(F.col("props").isNotNull()).count() == 0
        # quarantine is the original record shape, payload intact
        assert bad.columns == records.columns
        assert sorted(map(tuple, bad.collect())) == sorted(
            map(tuple, records.where(F.col("offset").isin(*kept)).collect())
        )

    def test_helper_over_a_plain_struct(self, spark):
        """``format_payload`` over any struct Column. By default a row
        keeps its payload when the struct is NULL over a non-NULL
        payload, as a PERMISSIVE binary decoder reports a bad payload."""
        from stream_loader_spark.operators.projection import format_payload

        records = spark.createDataFrame(
            [(0, "ok"), (1, "bad"), (2, None)], "offset bigint, value string"
        )
        parsed = F.when(
            F.col("value") == "ok", F.struct(F.lit(7).alias("n"), F.lit("s").alias("h"))
        )
        out = format_payload(records, parsed, "value")
        assert out.columns == ["offset", "value", "n", "h"]
        got = sorted(tuple(r) for r in out.collect())
        assert got == [(0, None, 7, "s"), (1, "bad", None, None), (2, None, None, None)]

        # a caller's own detector
        out = format_payload(records, parsed, "value", lambda p: p["h"] != "s")
        got = sorted(tuple(r) for r in out.collect())
        assert got == [(0, None, 7, "s"), (1, None, None, None), (2, None, None, None)]


class TestComponentsStrategyEquivalence:
    def test_union_find_and_distributed_agree_on_random_graphs(self, spark, monkeypatch):
        """The size-based strategy switch must be invisible: both paths
        produce identical min-id cluster labels on the same graph."""
        import random

        from stream_loader_spark.operators import dedup as mod

        rng = random.Random(7)
        for trial in range(3):
            n = 40
            edges = sorted(
                {
                    tuple(sorted(rng.sample(range(n), 2)))
                    for _ in range(rng.randint(5, 25))
                }
            )
            docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
            pairs = spark.createDataFrame(
                [(a, b, 1.0) for a, b in edges], "doc_a long, doc_b long, jaccard double"
            )
            monkeypatch.setattr(mod, "SMALL_GRAPH_EDGES", 1_000_000)
            small = {r["doc_id"]: r["cluster_id"] for r in mod.dedup_components(docs, pairs).collect()}
            monkeypatch.setattr(mod, "SMALL_GRAPH_EDGES", 0)
            big = {r["doc_id"]: r["cluster_id"] for r in mod.dedup_components(docs, pairs).collect()}
            assert small == big, f"trial {trial}: strategy paths diverged"

    def test_semantic_keep_best_identical_under_distributed_components(
        self, spark, sf_small, monkeypatch
    ):
        """r13 (VERDICT item 6): the semantic dedup pipeline routed
        through DISTRIBUTED label propagation (SMALL_GRAPH_EDGES forced
        to 0, the >1M-edge regime) must keep exactly the same documents
        as the default driver-side union-find — the at-scale escape
        hatch is exercised on the real embedding pipeline, not just
        synthetic graphs."""
        from pyspark.sql import functions as F
        from stream_loader_spark.operators import dedup as mod
        from stream_loader_spark.operators.similarity import cosine_near_dup_pairs
        from stream_loader_spark.sources.tables import load_table

        docs = load_table(spark, sf_small, "documents").select("doc_id", "n_chars")
        emb = load_table(spark, sf_small, "embeddings")
        pairs = cosine_near_dup_pairs(
            emb, threshold=0.35, num_planes=8, num_bands=4, dim=64
        ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))

        kept_default = {
            r["doc_id"]
            for r in mod.dedup_keep_best_in_cluster(docs, pairs).collect()
        }
        monkeypatch.setattr(mod, "SMALL_GRAPH_EDGES", 0)
        kept_distributed = {
            r["doc_id"]
            for r in mod.dedup_keep_best_in_cluster(docs, pairs).collect()
        }
        assert kept_default == kept_distributed
        assert 0 < len(kept_default) < docs.count()


class TestIvfProbePrebuilt:
    def test_prebuilt_index_probe_equals_ivf_topk(self, spark, sf_small):
        """Persisting the IVF index (assignments + centroids) and probing
        it must reproduce ivf_topk exactly — the ANN ingest path."""
        from pyspark.sql import functions as F
        from stream_loader_spark.operators.similarity import (
            assign_clusters,
            ivf_probe,
            ivf_topk,
            seed_centroids,
        )
        from stream_loader_spark.sources.tables import load_table

        emb = load_table(spark, sf_small, "embeddings")
        qids = [3, 17, 40]

        direct = ivf_topk(emb, qids, k=5).collect()

        centroids = seed_centroids(emb, 16)
        assigned = assign_clusters(emb, 16, centroids=centroids)
        queries = emb.where(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        probed = ivf_probe(assigned, centroids, queries, k=5).collect()
        assert sorted(map(tuple, probed)) == sorted(map(tuple, direct))

    def test_keep_cols_rides_assignment_without_changing_it(self, spark, sf_small):
        """keep_cols passengers must not alter cluster assignment, and
        carrying them through the projection must equal the join-back
        they exist to replace (the cluster_label_purity shape)."""
        from stream_loader_spark.operators.similarity import assign_clusters
        from stream_loader_spark.sources.tables import load_table

        emb = load_table(spark, sf_small, "embeddings")
        plain = {
            r["vec_id"]: r["cluster_id"]
            for r in assign_clusters(emb, 16).collect()
        }
        carried = assign_clusters(emb, 16, keep_cols=("label",)).collect()
        assert {r["vec_id"]: r["cluster_id"] for r in carried} == plain
        joined = {
            (r["vec_id"], r["label"])
            for r in emb.select("vec_id", "label").collect()
        }
        assert {(r["vec_id"], r["label"]) for r in carried} == joined

    def test_keep_cols_collisions_fail_fast(self, spark, sf_small):
        """A keep_col that collides with the id/vec/output columns (or
        repeats) must raise at call time, not as a downstream ambiguous-
        reference AnalysisException."""
        import pytest

        from stream_loader_spark.operators.similarity import assign_clusters
        from stream_loader_spark.sources.tables import load_table

        emb = load_table(spark, sf_small, "embeddings")
        for bad in (("cluster_id",), ("vec_id",), ("embedding",), ("label", "label")):
            with pytest.raises(ValueError):
                assign_clusters(emb, 16, keep_cols=bad)


class TestRepeatedNgramSpans:
    """Crafted-corpus semantics for operators/spans.py (the oracle
    verifies fixture-scale equality; these pin the span algebra)."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_shared_phrase_marks_exact_span(self, spark):
        phrase = "a b c d e"
        docs = self._docs(
            spark,
            [(1, f"x1 x2 {phrase} y1 y2"), (2, f"z1 {phrase} z2 z3 z4")],
        )
        from stream_loader_spark.operators.spans import repeated_ngram_spans

        out = {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in repeated_ngram_spans(docs, n=5).collect()
        }
        # doc 1: phrase at tokens 3..7; doc 2: tokens 2..6
        assert out == {(1, 3, 7, 5), (2, 2, 6, 5)}

    def test_overlapping_grams_merge_into_one_island(self, spark):
        # 6 shared tokens -> two overlapping 5-grams -> ONE merged span
        shared = "a b c d e f"
        docs = self._docs(spark, [(1, f"{shared} tail1"), (2, f"head2 {shared}")])
        from stream_loader_spark.operators.spans import repeated_ngram_spans

        out = {(r.doc_id, r.span_start, r.span_end) for r in
               repeated_ngram_spans(docs, n=5).collect()}
        assert out == {(1, 1, 6), (2, 2, 7)}

    def test_disjoint_duplicates_stay_separate_spans(self, spark):
        docs = self._docs(
            spark,
            [
                (1, "a b c d e gap1 gap2 v w x y z"),
                (2, "a b c d e other words here now too"),
                (3, "more filler v w x y z"),
            ],
        )
        from stream_loader_spark.operators.spans import repeated_ngram_spans

        rows = repeated_ngram_spans(docs, n=5).collect()
        doc1 = sorted((r.span_start, r.span_end) for r in rows if r.doc_id == 1)
        assert doc1 == [(1, 5), (8, 12)]  # gap of 2 tokens -> two islands

    def test_within_doc_repeat_alone_is_not_flagged(self, spark):
        # the same 5-gram twice in ONE doc: distinct-doc df = 1 < min_df
        docs = self._docs(
            spark, [(1, "a b c d e a b c d e"), (2, "totally different text here words")]
        )
        from stream_loader_spark.operators.spans import repeated_ngram_spans

        assert repeated_ngram_spans(docs, n=5, min_df=2).count() == 0

    def test_short_and_empty_docs_are_safe(self, spark):
        docs = self._docs(spark, [(1, "a b c"), (2, ""), (3, "   "), (4, "a b c")])
        from stream_loader_spark.operators.spans import repeated_ngram_spans

        assert repeated_ngram_spans(docs, n=5).count() == 0

    def test_doc_stats_covers_every_doc_without_double_count(self, spark):
        shared = "a b c d e f"  # overlapping grams, 6 dup tokens
        docs = self._docs(
            spark, [(1, f"{shared} t1 t2"), (2, f"{shared}"), (3, "clean doc text")]
        )
        from stream_loader_spark.operators.spans import repeated_ngram_doc_stats

        rows = {r.doc_id: r for r in repeated_ngram_doc_stats(docs, n=5).collect()}
        assert rows[1].n_tokens == 8 and rows[1].dup_tokens == 6
        assert rows[1].dup_fraction == pytest.approx(0.75)
        assert rows[2].dup_tokens == 6 and rows[2].dup_fraction == pytest.approx(1.0)
        assert rows[3].dup_tokens == 0 and rows[3].dup_fraction == 0.0

    def test_plan_has_semi_join_and_no_cartesian(self, spark, sf_small):
        from stream_loader_spark.operators.spans import repeated_ngram_spans

        docs = load_table(spark, sf_small, "documents")
        plan = repeated_ngram_spans(docs)._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan
        assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


class TestGroupedMoments:
    def test_matches_builtin_stat_aggregates(self, spark, sf_small):
        """operators/stats.py derives moments from exact sufficient
        statistics; Spark's built-in one-pass corr/covar_pop/stddev_samp
        must agree to float tolerance (the built-ins are not used in the
        oracle query because their partition-order-dependent low bits
        can't be hash-compared across engines)."""
        from stream_loader_spark.operators.stats import grouped_moment_stats

        li = load_table(spark, sf_small, "lineitem")
        ours = {
            r.l_returnflag: r
            for r in grouped_moment_stats(
                li, "l_returnflag", "l_quantity", "l_extendedprice"
            ).collect()
        }
        builtin = {
            r.l_returnflag: r
            for r in li.groupBy("l_returnflag")
            .agg(
                F.corr("l_quantity", "l_extendedprice").alias("corr"),
                F.covar_pop("l_quantity", "l_extendedprice").alias("covar"),
                F.stddev_samp("l_quantity").alias("sx"),
                F.stddev_samp("l_extendedprice").alias("sy"),
                F.avg("l_quantity").alias("mx"),
            )
            .collect()
        }
        assert set(ours) == set(builtin) and len(ours) >= 2
        for flag, b in builtin.items():
            o = ours[flag]
            assert o.corr_xy == pytest.approx(b.corr, abs=1e-9)
            assert o.covar_pop_xy == pytest.approx(b.covar, rel=1e-9)
            assert o.stddev_x == pytest.approx(b.sx, rel=1e-9)
            assert o.stddev_y == pytest.approx(b.sy, rel=1e-9)
            assert o.mean_x == pytest.approx(b.mx, rel=1e-12)

    def test_cents_fast_path_is_bit_identical_to_decimal_path(self, spark):
        """The integer-split cents aggregation must produce EXACTLY the
        doubles of the wide-decimal path (not approximately): both
        compute the same exact sufficient sums and convert to double
        once, so every derived moment is the same bit pattern. Includes
        negative values (div/% recombination identity) and a
        zero-variance group (NULL guard parity)."""
        from stream_loader_spark.operators.stats import (
            grouped_moment_stats,
            grouped_moment_stats_cents,
        )

        rows = [
            ("a", 1.25, -3.50),
            ("a", 2.00, 7.75),
            ("a", -0.75, 0.01),
            ("b", 5.00, 5.00),
            ("b", 5.00, 5.00),  # zero variance
            ("c", 99999.99, -99999.99),  # single row: NULL stddev/corr
        ]
        df = spark.createDataFrame(rows, "g string, x double, y double")
        wide = {r.g: r for r in grouped_moment_stats(df, "g", "x", "y").collect()}
        cents = {r.g: r for r in grouped_moment_stats_cents(df, "g", "x", "y").collect()}
        assert set(wide) == set(cents)
        for g, w in wide.items():
            c = cents[g]
            for field in (
                "n", "mean_x", "mean_y", "stddev_x", "stddev_y",
                "covar_pop_xy", "corr_xy",
            ):
                assert getattr(w, field) == getattr(c, field), (g, field)

    def test_single_row_group_yields_null_stddev_and_corr(self, spark):
        from stream_loader_spark.operators.stats import grouped_moment_stats

        df = spark.createDataFrame(
            [(1, 2.0, 3.0), (2, 1.0, 1.0), (2, 3.0, 5.0)], "g int, x double, y double"
        )
        rows = {r.g: r for r in grouped_moment_stats(df, "g", "x", "y").collect()}
        assert rows[1].stddev_x is None and rows[1].corr_xy is None
        assert rows[1].covar_pop_xy == 0.0
        assert rows[2].corr_xy == pytest.approx(1.0)


from hypothesis import given, settings, strategies as st  # noqa: E402


class TestRepeatedNgramSpanProperties:
    @settings(max_examples=8, deadline=None)
    @given(
        corpus=st.lists(
            st.lists(st.sampled_from("abc"), min_size=0, max_size=12),
            min_size=2,
            max_size=8,
        ),
        n=st.sampled_from([2, 3]),
    )
    def test_matches_bruteforce_reference(self, spark, corpus, n):
        """For ANY tiny-alphabet corpus: spans equal an O(docs²)
        pure-Python reference (gram counting, coverage marking,
        adjacency-merged islands)."""
        from stream_loader_spark.operators.spans import repeated_ngram_spans

        rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.doc_id, r.span_start, r.span_end)
            for r in repeated_ngram_spans(docs, n=n, min_df=2).collect()
        }

        # brute-force reference
        from collections import defaultdict

        gram_docs = defaultdict(set)
        for i, toks in enumerate(corpus):
            for s in range(len(toks) - n + 1):
                gram_docs[tuple(toks[s : s + n])].add(i)
        expect = set()
        for i, toks in enumerate(corpus):
            covered = sorted(
                s
                for s in range(len(toks) - n + 1)
                if len(gram_docs[tuple(toks[s : s + n])]) >= 2
            )
            island: list[int] | None = None
            for s in covered:
                start1, end1 = s + 1, s + n  # 1-based inclusive
                if island is not None and start1 <= island[1] + 1:
                    island[1] = max(island[1], end1)
                else:
                    if island is not None:
                        expect.add((i, island[0], island[1]))
                    island = [start1, end1]
            if island is not None:
                expect.add((i, island[0], island[1]))
        assert got == expect


class TestQuantizedSearch:
    def test_quantization_roundtrip_error_bounded(self, spark, sf_small):
        """Per-dimension reconstruction error is <= half a quantization
        step (scale/2) by construction; the stats operator's MAE must
        respect the same bound."""
        from stream_loader_spark.operators.quantize import quantized_embedding_stats

        emb = load_table(spark, sf_small, "embeddings")
        rows = quantized_embedding_stats(emb).collect()
        assert rows
        for r in rows:
            assert r.recon_mae <= r.scale / 2 + 1e-9, r

    def test_quantized_topk_recall_vs_exact(self, spark, sf_small):
        from stream_loader_spark.operators.quantize import dequantized_embeddings
        from stream_loader_spark.operators.similarity import brute_force_topk

        emb = load_table(spark, sf_small, "embeddings").cache()
        qids = list(range(10))
        exact = brute_force_topk(emb, qids, k=5).collect()
        quant = brute_force_topk(dequantized_embeddings(emb), qids, k=5).collect()
        truth = {}
        for r in exact:
            truth.setdefault(r.query_id, set()).add(r.match_id)
        got = {}
        for r in quant:
            got.setdefault(r.query_id, set()).add(r.match_id)
        hits = sum(len(truth[q] & got[q]) for q in truth)
        total = sum(len(v) for v in truth.values())
        assert hits / total >= 0.8, f"recall@5 {hits}/{total}"


class TestCorpusDiff:
    def test_all_four_statuses(self, spark):
        from stream_loader_spark.operators.versioning import corpus_diff, diff_summary

        old = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(2, "b"), (3, "C!"), (4, "d")], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in corpus_diff(old, new).collect()}
        assert rows[1].status == "removed" and rows[1].new_digest is None
        assert rows[2].status == "unchanged"
        assert rows[3].status == "changed"
        assert rows[3].old_digest != rows[3].new_digest
        assert rows[4].status == "added" and rows[4].old_digest is None
        summary = {r.status: r.n_docs for r in diff_summary(corpus_diff(old, new)).collect()}
        assert summary == {"removed": 1, "unchanged": 1, "changed": 1, "added": 1}

    def test_incremental_release_processes_only_delta(self, spark):
        from stream_loader_spark.operators.versioning import incremental_release

        text = "the quick brown fox is in the garden and it is very quiet today"
        old = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
        new = spark.createDataFrame(
            [(1, text), (2, text + " extra"), (3, text)], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in incremental_release(old, new, min_quality=0.0).collect()}
        assert set(rows) == {2, 3}  # unchanged doc 1 is never re-processed
        assert rows[2].status == "changed" and rows[3].status == "added"
        assert rows[3].pred_lang == "en"


class TestStreamAnomalies:
    def test_crafted_outlier_is_flagged(self, spark):
        from stream_loader_spark.operators.stats import stream_anomaly_stats

        rows = [("t", float(v)) for v in [10, 11, 9, 10, 12, 8, 10, 11, 9, 10]]
        rows.append(("t", 1000.0))  # blatant outlier
        rows += [("quiet", 5.0), ("quiet", 5.0)]  # zero variance group
        df = spark.createDataFrame(rows, "topic string, value double")
        out = {r.topic: r for r in stream_anomaly_stats(df, "topic", "value").collect()}
        assert out["t"].n_outliers == 1 and out["t"].n_events == 11
        assert out["t"].max_abs_z > 3
        assert out["quiet"].n_outliers == 0 and out["quiet"].max_abs_z == 0.0

    def test_single_row_group_degenerates_cleanly(self, spark):
        from stream_loader_spark.operators.stats import stream_anomaly_stats

        df = spark.createDataFrame([("solo", 42.0)], "topic string, value double")
        [row] = stream_anomaly_stats(df, "topic", "value").collect()
        assert (row.n_events, row.n_outliers, row.max_abs_z) == (1, 0, 0.0)


class TestZOrderLayout:
    """operators/layout.py: Morton coding + clustered write."""

    def test_zvalue_matches_python_reference(self, spark):
        from stream_loader_spark.operators.layout import zorder_value

        rows = [(i, x, y) for i, (x, y) in enumerate(
            (x, y) for x in range(0, 64, 7) for y in range(100, 400, 31)
        )]
        df = spark.createDataFrame(rows, "id long, x long, y long")
        got = {
            r["id"]: r["zvalue"]
            for r in zorder_value(df, ["x", "y"], bits=8).collect()
        }

        xs = [x for _, x, _ in rows]
        ys = [y for _, _, y in rows]
        mnx, mxx, mny, mxy = min(xs), max(xs), min(ys), max(ys)

        def bucket(v, mn, mx):
            return (v - mn) * 256 // (mx - mn + 1)

        def morton(bx, by):
            z = 0
            for b in range(8):
                z |= ((bx >> b) & 1) << (2 * b)
                z |= ((by >> b) & 1) << (2 * b + 1)
            return z

        for i, x, y in rows:
            assert got[i] == morton(bucket(x, mnx, mxx), bucket(y, mny, mxy))

    def test_zvalue_locality(self, spark):
        """Neighbors in both dimensions get nearby Z-values: the max
        Z-distance of a one-bucket step is bounded, so range-disjoint
        files cover small hyper-rectangles (the pruning property)."""
        from stream_loader_spark.operators.layout import zorder_value

        n = 16
        df = spark.createDataFrame(
            [(x * n + y, x, y) for x in range(n) for y in range(n)],
            "id long, x long, y long",
        )
        z = {
            (r["x"], r["y"]): r["zvalue"]
            for r in zorder_value(df, ["x", "y"], bits=4).collect()
        }
        # full 4-bit grid: the Morton code is a bijection onto 0..255
        assert sorted(z.values()) == list(range(n * n))

    def test_write_zordered_files_are_range_disjoint(self, spark, tmp_path):
        import os

        from stream_loader_spark.operators.layout import write_zordered

        df = spark.range(5000).select(
            F.col("id"),
            (F.col("id") * 37 % 1000).alias("x"),
            (F.col("id") * 91 % 365).alias("y"),
        )
        out = str(tmp_path / "zo")
        write_zordered(df, out, ["x", "y"], bits=8, n_files=8)

        files = [
            os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
        ]
        assert len(files) > 1
        spans = []
        total = 0
        for f in files:
            pdf = spark.read.parquet(f).agg(
                F.min("zvalue"), F.max("zvalue"), F.count(F.lit(1))
            ).collect()[0]
            if pdf[2]:
                spans.append((pdf[0], pdf[1]))
                total += pdf[2]
        assert total == 5000
        spans.sort()
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            # range exchange: identical boundary values may straddle,
            # anything beyond that means the files are not clustered
            assert hi1 <= lo2

    def test_rejects_overflowing_bit_budget(self, spark):
        import pytest

        from stream_loader_spark.operators.layout import zorder_value

        df = spark.range(1).select(F.col("id").alias("a"), F.col("id").alias("b"))
        with pytest.raises(ValueError):
            zorder_value(df, ["a", "b"], bits=32)


class TestIncrementalAggregates:
    """operators/matview.py: mergeable per-key aggregate state."""

    def _events(self, spark, n=400):
        return spark.range(n).select(
            (F.col("id") % 7).alias("k"),
            (F.col("id") * 13 % 97).cast("double").alias("value"),
            F.col("id"),
        )

    def test_split_independence(self, spark):
        """state(A ∪ B ∪ C) == merge(state(A), state(B), state(C)) for
        an arbitrary 3-way split — the monoid law delta refresh rests on."""
        from stream_loader_spark.operators.matview import (
            aggregate_state,
            finalize_aggregates,
            merge_aggregate_states,
        )

        ev = self._events(spark)
        whole = finalize_aggregates(
            aggregate_state(ev, ["k"], ["value"]), ["k"]
        )
        parts = [
            aggregate_state(ev.where(F.pmod("id", F.lit(3)) == i), ["k"], ["value"])
            for i in range(3)
        ]
        merged = finalize_aggregates(
            merge_aggregate_states(parts, ["k"]), ["k"]
        )
        assert sorted(map(tuple, whole.collect())) == sorted(
            map(tuple, merged.collect())
        )

    def test_merge_keeps_state_schema(self, spark):
        """Merged state must be re-mergeable: Spark widens decimal sums,
        so an uncast merge would drift the schema round over round."""
        from stream_loader_spark.operators.matview import (
            aggregate_state,
            merge_aggregate_states,
        )

        ev = self._events(spark)
        s1 = aggregate_state(ev, ["k"], ["value"])
        m1 = merge_aggregate_states([s1, s1], ["k"])
        m2 = merge_aggregate_states([m1, s1], ["k"])

        def shape(df):
            # nullability is not part of the contract (count() is
            # non-null, sum-of-counts nullable; both are always set)
            return [(f.name, f.dataType) for f in df.schema.fields]

        assert shape(m1) == shape(s1) == shape(m2)

    def test_upsert_persistence_round_trip(self, spark, tmp_path):
        """The storage composition: state persisted through UpsertSink
        between refreshes, folded with the next delta after reload —
        the crash-safe incremental-refresh loop."""
        from stream_loader_spark.operators.matview import (
            aggregate_state,
            finalize_aggregates,
            merge_aggregate_states,
        )
        from stream_loader_spark.sinks.upsert import UpsertSink

        ev = self._events(spark)
        sink = UpsertSink(str(tmp_path / "mv"), key_cols=["k"], order_col="n")

        first = aggregate_state(ev.where(F.col("id") < 250), ["k"], ["value"])
        sink.write_batch(first, batch_id=0)

        prior = sink.current_state(spark).drop("_bucket")
        delta = aggregate_state(ev.where(F.col("id") >= 250), ["k"], ["value"])
        merged = merge_aggregate_states([prior, delta], ["k"])
        sink.write_batch(merged, batch_id=1)

        got = finalize_aggregates(sink.current_state(spark).drop("_bucket"), ["k"])
        want = finalize_aggregates(aggregate_state(ev, ["k"], ["value"]), ["k"])
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


class TestQualityExpectations:
    """operators/quality.py: expectation reports + constraint routing."""

    def _df(self, spark):
        return spark.createDataFrame(
            [
                (1, "alice", 30),
                (2, None, 45),       # name null
                (3, "carol", -1),    # age out of range
                (4, "dan!", 200),    # name format + age out of range
                (5, "eve", None),    # age NULL: in_range accepts NULLs
            ],
            "id long, name string, age int",
        )

    def _exp(self):
        from stream_loader_spark.operators.quality import in_range, matches, not_null

        return {
            "name_not_null": not_null("name"),
            "name_format": matches("name", "^[a-z]+$"),
            "age_range": in_range("age", 0, 150),
        }

    def test_report_counts_and_null_semantics(self, spark):
        from stream_loader_spark.operators.quality import quality_report

        got = {
            r["check"]: (r["n_rows"], r["n_violations"])
            for r in quality_report(self._df(spark), self._exp()).collect()
        }
        assert got == {
            "name_not_null": (5, 1),
            # NULL name -> NULL rlike -> counted violated? matches() lets
            # NULLs pass (measured by name_not_null instead): only 'dan!'
            "name_format": (5, 1),
            "age_range": (5, 2),
        }

    def test_split_routes_and_labels(self, spark):
        from pyspark.sql import functions as F

        from stream_loader_spark.operators.quality import constraint_split

        valid, bad = constraint_split(self._df(spark), self._exp())
        assert sorted(r["id"] for r in valid.select("id").collect()) == [1, 5]
        labels = {r["id"]: r["_violations"] for r in bad.collect()}
        assert labels[2] == "name_not_null"
        assert labels[3] == "age_range"
        assert labels[4] == "name_format,age_range"  # every failed check listed
        # routing is a partition: nothing lost, nothing duplicated
        assert valid.count() + bad.count() == 5
        assert valid.columns == self._df(spark).columns


class TestGapFill:
    """operators/timeseries.py: calendar densification + fills."""

    def _sparse(self, spark):
        from datetime import date

        return spark.createDataFrame(
            [
                ("a", date(2024, 1, 1), 10),
                ("a", date(2024, 1, 4), 40),   # 2-day hole
                ("b", date(2024, 1, 2), 20),   # singleton span
            ],
            "k string, dt date, v int",
        )

    def test_zero_fill_grid(self, spark):
        from stream_loader_spark.operators.timeseries import gap_fill_daily

        got = {
            (r["k"], str(r["dt"])): (r["v"], r["filled"])
            for r in gap_fill_daily(self._sparse(spark), ["k"], "dt", ["v"]).collect()
        }
        assert got == {
            ("a", "2024-01-01"): (10, False),
            ("a", "2024-01-02"): (0, True),
            ("a", "2024-01-03"): (0, True),
            ("a", "2024-01-04"): (40, False),
            ("b", "2024-01-02"): (20, False),
        }

    def test_forward_fill_carries_last_observation(self, spark):
        from stream_loader_spark.operators.timeseries import gap_fill_daily

        got = {
            (r["k"], str(r["dt"])): r["v"]
            for r in gap_fill_daily(
                self._sparse(spark), ["k"], "dt", ["v"], fill="ffill"
            ).collect()
        }
        assert got[("a", "2024-01-02")] == 10
        assert got[("a", "2024-01-03")] == 10
        assert got[("a", "2024-01-04")] == 40

    def test_rejects_unknown_fill(self, spark):
        from stream_loader_spark.operators.timeseries import gap_fill_daily

        with pytest.raises(ValueError, match="fill"):
            gap_fill_daily(self._sparse(spark), ["k"], "dt", ["v"], fill="interp")


class TestMergeableSketches:
    """operators/sketches.py: the split-invariance that makes sketch
    layers correct — any partition of the input merges to the same
    answer — plus theta set algebra on known ground truth."""

    def test_hll_union_is_split_invariant(self, spark):
        from stream_loader_spark.operators.sketches import (
            daily_hll_sketches,
            hll_union_estimate,
        )

        df = spark.range(20_000).select(
            F.lit("t").alias("k"),
            (F.col("id") % 37).alias("d"),          # 37-way "daily" split
            (F.col("id") % 5_000).cast("string").alias("v"),
        )
        est = hll_union_estimate(
            daily_hll_sketches(df, "k", F.col("d"), "v"), "k"
        ).collect()[0]
        assert est["n_sketches"] == 37
        assert abs(est["distinct_approx"] - 5_000) / 5_000 <= 0.05
        # a different split of the SAME data stays within tolerance too
        # (HLL union is duplicate-insensitive but not bit-identical
        # across splits: sparse→dense representation transitions shift
        # the low bits — the guarantee is the error bound, not equality)
        est2 = hll_union_estimate(
            daily_hll_sketches(df, "k", (F.col("d") % 3).alias("d"), "v"), "k"
        ).collect()[0]
        assert abs(est2["distinct_approx"] - 5_000) / 5_000 <= 0.05

    def test_theta_overlap_ground_truth(self, spark):
        from stream_loader_spark.operators.sketches import theta_period_overlap

        # period A holds ids 0..999 (d=0), period B holds 500..1499 (d=1):
        # true overlap 500
        a = spark.range(0, 1000).select(
            F.lit("t").alias("k"), F.lit(0).alias("d"), F.col("id").alias("v")
        )
        b = spark.range(500, 1500).select(
            F.lit("t").alias("k"), F.lit(1).alias("d"), F.col("id").alias("v")
        )
        got = theta_period_overlap(
            a.unionAll(b), "k", F.col("d"), "v", F.lit(0)
        ).collect()[0]
        assert abs(got["overlap_approx"] - 500) / 500 <= 0.05

    def test_kll_merge_tracks_exact_n_and_sane_median(self, spark):
        from stream_loader_spark.operators.sketches import (
            daily_kll_sketches,
            kll_merged_quantiles,
        )

        df = spark.range(10_000).select(
            F.lit("t").alias("k"),
            (F.col("id") % 11).alias("d"),
            F.col("id").cast("double").alias("v"),
        )
        got = kll_merged_quantiles(
            daily_kll_sketches(df, "k", F.col("d"), "v"), "k", [0.5]
        ).collect()[0]
        assert got["n_values"] == 10_000  # stream length is EXACT in KLL
        assert abs(got["q50"] - 5_000) <= 10_000 * 0.05


class TestQualityNameStrictness:
    def test_arithmetic_lookalike_names_rejected(self, spark):
        """Regression: '-' in a check name made `_v_a-0` parse as the
        arithmetic `_v_a - 0` inside stack(), silently reading another
        check's counter. Dots crash as field access. Both must raise."""
        from stream_loader_spark.operators.quality import not_null, quality_report

        df = spark.range(3).select(F.col("id"))
        for bad in ("a-0", "a.b"):
            with pytest.raises(ValueError, match="identifier-like"):
                quality_report(df, {"ok": not_null("id"), bad: not_null("id")})


class TestGopherFlags:
    def test_rule_verdicts_and_keep(self, spark):
        from stream_loader_spark.operators.text import with_gopher_flags

        df = spark.createDataFrame(
            [
                # 50 english-ish words (mean len 4.7, 10 stop hits) -> keep
                (1, " ".join(["the quick brown foxes jumping over the lazy fences again"] * 5)),
                # symbol-heavy: '#' on most words
                (2, " ".join(["#tag"] * 60)),
                # too short
                (3, "the a of"),
                # empty
                (4, "   "),
                # numeric words fail the alpha ratio
                (5, " ".join(["1234"] * 60)),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in with_gopher_flags(df).collect()}
        assert rows[1]["keep"]
        assert not rows[2]["flag_symbol_ratio"] and not rows[2]["keep"]
        assert not rows[3]["flag_word_count"]
        assert rows[4]["word_count"] == 0 and not rows[4]["keep"]
        assert rows[4]["mean_word_len"] == 0.0  # guarded division
        assert not rows[5]["flag_alpha_ratio"]

    def test_mean_word_len_is_exact_sum(self, spark):
        from stream_loader_spark.operators.text import with_gopher_flags

        df = spark.createDataFrame([(1, "ab cdef")], "doc_id long, text string")
        row = with_gopher_flags(df).collect()[0]
        assert row["mean_word_len"] == pytest.approx(3.0)  # (2+4)/2


class TestFrequentTokens:
    def test_exact_under_eviction_pressure(self, spark):
        """capacity far below the vocabulary: MG must still surface every
        token above the threshold (no false negatives), and the recount
        pass must kill every false candidate (no false positives)."""
        from stream_loader_spark.operators.text import approx_frequent_tokens

        # 3 heavy tokens (120x) buried in 600 singletons; N = 960
        heavy = [(i, "alpha beta gamma") for i in range(120)]
        noise = [(1000 + i, f"u{i} v{i} w{i} x{i} y{i}") for i in range(120)]
        df = spark.createDataFrame(heavy + noise, "doc_id long, text string").repartition(8)
        got = {
            (r["token"], r["n"])
            for r in approx_frequent_tokens(df, min_count=100, capacity=64).collect()
        }
        assert got == {("alpha", 120), ("beta", 120), ("gamma", 120)}

    def test_guard_raises_when_bound_broken(self, spark):
        """min_count <= N/capacity voids the superset guarantee: the
        operator must fail loudly AT CALL TIME instead of silently
        under-reporting — in the broken regime eviction can empty the
        result entirely, so a row-level guard would never evaluate."""
        from stream_loader_spark.operators.text import approx_frequent_tokens

        df = spark.createDataFrame(
            [(i, "a b c d e f g h") for i in range(100)], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="approx_frequent_tokens"):
            approx_frequent_tokens(df, min_count=5, capacity=4)


class TestFrequentTokenProperties:
    @settings(max_examples=8, deadline=None)
    @given(
        corpus=st.lists(
            st.lists(st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
                     min_size=1, max_size=10),
            min_size=1,
            max_size=20,
        ),
        min_count=st.sampled_from([2, 3, 5]),
    )
    def test_matches_exact_counts_when_guard_holds(self, spark, corpus, min_count):
        """For ANY small corpus where the precondition min_count >
        N/capacity holds, the two-phase result equals exact Python
        counting — MG candidates never lose a qualifying token and the
        recount never keeps a disqualified one."""
        from collections import Counter

        from stream_loader_spark.operators.text import approx_frequent_tokens

        n_tokens = sum(len(d) for d in corpus)
        capacity = 256  # guard: min_count * 256 >= 512 > N (N <= 200 here)
        assert min_count * capacity > n_tokens
        rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["token"], r["n"])
            for r in approx_frequent_tokens(
                docs, min_count=min_count, capacity=capacity
            ).collect()
        }
        counts = Counter(t for d in corpus for t in d)
        expect = {(t, c) for t, c in counts.items() if c >= min_count}
        assert got == expect


class TestGroupCentroids:
    def test_matches_numpy_reference_within_quantization(self, spark, sf_small):
        import numpy as np

        from stream_loader_spark.operators.similarity import group_centroids

        emb = load_table(spark, sf_small, "embeddings")
        got = {r["label"]: r for r in group_centroids(emb).collect()}
        rows = emb.select("label", "embedding").collect()
        by_label: dict[int, list] = {}
        for r in rows:
            by_label.setdefault(r["label"], []).append(r["embedding"])
        for label, vecs in by_label.items():
            ref = np.mean(np.array(vecs, dtype=np.float64), axis=0)
            g = got[label]
            assert g["n_vecs"] == len(vecs)
            assert g["dim"] == len(ref)
            # floor-quantization bias is at most 1e-6 per element
            assert np.max(np.abs(np.array(g["centroid"]) - ref)) <= 1.1e-6

    def test_partitioning_invariant_bit_for_bit(self, spark, sf_small):
        """The whole point of the integer-micro contract: identical
        results under any partitioning (float avg would drift)."""
        from stream_loader_spark.operators.similarity import group_centroids

        emb = load_table(spark, sf_small, "embeddings")
        a = {r["label"]: r["centroid"] for r in group_centroids(emb).collect()}
        b = {
            r["label"]: r["centroid"]
            for r in group_centroids(emb.repartition(7, "vec_id")).collect()
        }
        assert a == b  # exact equality, not approx


class TestUdtfFormatter:
    def test_custom_formatter_one_to_many_with_drops(self, spark):
        """RecordFormatter parity: user Python logic fans one record out
        to N typed rows; yielding nothing drops the record."""
        from pyspark.sql.functions import udtf
        from stream_loader_spark.operators.projection import formatted_records_udtf

        @udtf(returnType="k bigint, v string")
        class PipeFormatter:
            def eval(self, props: str):
                if not props or "|" not in props:
                    return  # unparseable -> zero rows
                for part in props.split(";"):
                    k, v = part.split("|", 1)
                    yield int(k), v

        records = spark.createDataFrame(
            [
                ("t", 0, 0, "1|a;2|b"),
                ("t", 0, 1, "garbage"),
                ("t", 0, 2, "3|c"),
                ("t", 0, 3, None),
            ],
            "topic string, partition int, offset long, props string",
        )
        out = formatted_records_udtf(records, PipeFormatter)
        rows = {(r["offset"], r["k"]): r["v"] for r in out.collect()}
        assert rows == {(0, 1): "a", (0, 2): "b", (2, 3): "c"}
        assert set(out.columns) == {"topic", "partition", "offset", "k", "v"}


class TestOperatorReviewRegressions:
    def test_zorder_survives_64bit_domains(self, spark):
        """(x - mn) in int64 overflowed ANSI-fatally for snowflake-scale
        ids; the double pipeline must not."""
        from stream_loader_spark.operators.layout import zorder_value

        df = spark.createDataFrame(
            [(-(2**62), 1), (2**62, 2), (0, 3)], "a long, b long"
        )
        rows = zorder_value(df, ["a", "b"], bits=4).collect()
        assert len(rows) == 3 and all(r["zvalue"] >= 0 for r in rows)

    def test_salted_join_scatters_duplicate_hot_rows(self, spark):
        """The salt must vary across IDENTICAL rows — content-hash salts
        gave duplicates one salt and zero skew mitigation."""
        from stream_loader_spark.operators.skew import salted_join

        big = spark.createDataFrame([("hot", 1)] * 1000, "k string, v int")
        small = spark.createDataFrame([("hot", "dim")], "k string, d string")
        salted = big.withColumn(
            "_s",
            F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(8)),
        )
        assert salted.select("_s").distinct().count() > 1
        out = salted_join(big, small, ["k"], salt_buckets=8)
        assert out.count() == 1000  # join semantics intact

    def test_quality_report_empty_batch_is_zero_not_null(self, spark):
        from stream_loader_spark.operators.quality import not_null, quality_report

        empty = spark.createDataFrame([], "a string")
        [row] = quality_report(empty, {"a_nn": not_null("a")}).collect()
        assert (row["n_rows"], row["n_violations"], row["pass_rate"]) == (0, 0, 1.0)

    def test_gap_fill_preserves_observed_nulls(self, spark):
        from datetime import date

        from stream_loader_spark.operators.timeseries import gap_fill_daily

        df = spark.createDataFrame(
            [("k", date(2024, 1, 1), 5.0), ("k", date(2024, 1, 3), None)],
            "k string, dt date, v double",
        )
        rows = {r["dt"].day: r for r in gap_fill_daily(df, ["k"], "dt", ["v"]).collect()}
        assert rows[2]["v"] == 0.0 and rows[2]["filled"]  # generated gap
        assert rows[3]["v"] is None and not rows[3]["filled"]  # observed NULL stays

    def test_matview_avg_uses_nonnull_count(self, spark):
        from stream_loader_spark.operators.matview import (
            aggregate_state,
            finalize_aggregates,
        )

        df = spark.createDataFrame(
            [("a", 10.0), ("a", None), ("a", 20.0)], "k string, v double"
        )
        [row] = finalize_aggregates(
            aggregate_state(df, ["k"], ["v"]), ["k"]
        ).collect()
        assert row["n"] == 3 and row["avg_v"] == 15.0  # SQL AVG, not sum/n

    def test_kll_quantile_labels_do_not_collide(self, spark):
        from stream_loader_spark.operators.sketches import _quantile_label

        assert _quantile_label(0.29) == "q29"
        assert _quantile_label(0.999) == "q99_9"
        assert _quantile_label(0.5) == "q50"

    def test_exchange_count_sees_range_shuffles(self, spark):
        from stream_loader_spark.operators.bucketing import exchange_count

        # a sort the optimizer can't elide (range is already id-ordered)
        df = spark.range(100).orderBy(F.pmod("id", F.lit(7)))
        df.write.format("noop").mode("overwrite").save()
        assert exchange_count(df) >= 1  # rangepartitioning counted now


class TestClampNullEventTime:
    def test_null_ts_rows_pass_the_streaming_clamp(self, spark, tmp_path):
        """NULL event times are neither future nor invalid — the clamp
        must deliver them, not silently drop them (lost data)."""
        from stream_loader_spark.streaming.pipeline import with_clamped_watermark

        src = str(tmp_path / "src")
        spark.createDataFrame(
            [(0, "2024-01-01 00:00:00"), (1, None)],
            "offset long, ts_s string",
        ).select("offset", F.col("ts_s").cast("timestamp").alias("ts")).write.parquet(src)
        stream = spark.readStream.schema("offset long, ts timestamp").parquet(src)
        out = with_clamped_watermark(stream, "ts")
        q = (
            out.writeStream.format("memory")
            .queryName("clamp_null_ts")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM clamp_null_ts").collect()
        assert sorted(r["offset"] for r in rows) == [0, 1]


class TestBucketCaps:
    """Degenerate-corpus hardening for the LSH candidate generators:
    buckets past ``max_bucket`` must not expand B·(B−1)/2 pairs in one
    aggregate row (single-task straggler / 2GB-array OOM at 100 TB)."""

    @pytest.fixture(scope="class")
    def identical_corpus(self, spark):
        """60 byte-identical documents + 3 unrelated ones — the
        boilerplate-cluster shape that degenerates every band/chunk
        bucket."""
        boiler = "the quick brown fox jumps over the lazy dog again and again"
        rows = [(i, boiler) for i in range(60)]
        rows += [
            (100, "completely unrelated text about spark shuffles and parquet"),
            (101, "another distinct document mentioning lakehouse compaction"),
            (102, "a third loner that shares no shingles with the boilerplate"),
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string").cache()

    def test_minhash_star_links_oversized_buckets(self, identical_corpus):
        pairs = minhash_lsh_pairs(
            identical_corpus, threshold=0.5, max_bucket=8
        ).collect()
        got = {(r["doc_a"], r["doc_b"]) for r in pairs}
        # linear star, not the 60·59/2 = 1770 quadratic expansion
        assert got == {(0, b) for b in range(1, 60)}
        # every star pair still went through the exact-Jaccard verify
        assert all(r["jaccard"] == 1.0 for r in pairs)

    def test_minhash_star_cluster_fully_recoverable(self, identical_corpus):
        from stream_loader_spark.operators.dedup import dedup_components

        pairs = minhash_lsh_pairs(identical_corpus, threshold=0.5, max_bucket=8)
        comps = dedup_components(identical_corpus, pairs)
        labels = {r["doc_id"]: r["cluster_id"] for r in comps.collect()}
        assert {labels[i] for i in range(60)} == {0}
        assert labels[100] == 100 and labels[101] == 101 and labels[102] == 102

    def test_simhash_star_links_oversized_buckets(self, identical_corpus):
        pairs = simhash_pairs(identical_corpus, max_bucket=8).collect()
        got = {(r["doc_a"], r["doc_b"]) for r in pairs}
        assert got == {(0, b) for b in range(1, 60)}
        assert all(r["hamming"] == 0 for r in pairs)

    def test_ngram_capped_bit_identical_to_uncapped(self, docs_with_dups):
        """Exact Jaccard may not change under the cap — oversized
        shingle buckets reroute through the streamed self-join but the
        pair set and values must match the one-path form exactly."""
        capped = ngram_jaccard_pairs(
            docs_with_dups, threshold=0.5, block_col="lang", max_bucket=2
        )
        uncapped = ngram_jaccard_pairs(
            docs_with_dups, threshold=0.5, block_col="lang", max_bucket=1 << 30
        )
        a = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
        b = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in uncapped.collect()}
        assert a == b and a

    def test_minhash_capped_equals_uncapped_below_cap(self, docs_with_dups):
        """With no bucket past the cap, the capped plan must emit the
        exact same pairs as an effectively-uncapped run."""
        lo = minhash_lsh_pairs(docs_with_dups, threshold=0.5)  # default cap
        hi = minhash_lsh_pairs(docs_with_dups, threshold=0.5, max_bucket=1 << 30)
        assert {tuple(r) for r in lo.collect()} == {tuple(r) for r in hi.collect()}

    def test_empty_and_single_token_docs_survive_all_paths(self, spark):
        rows = [
            (1, ""),
            (2, "   "),
            (3, "solo"),
            (4, "solo"),
            (5, "two words"),
            (6, "the quick brown fox jumps over the lazy dog"),
            (7, "the quick brown fox jumps over the lazy dog"),
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        # docs shorter than the shingle size keep a whole-doc shingle,
        # so byte-identical empties/singletons ARE mutual duplicates —
        # and the two shingle-based paths must agree exactly
        mh = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()}
        assert mh == {(1, 2), (3, 4), (6, 7)}
        nj = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(docs).collect()}
        assert nj == mh
        sp = {(r["doc_a"], r["doc_b"]) for r in simhash_pairs(docs).collect()}
        # simhash tokenizes (no whole-doc fallback): zero-token docs get
        # no signature → never pair; the single-token twins collide at 0
        assert (6, 7) in sp and (3, 4) in sp
        assert not any(a in (1, 2) or b in (1, 2) for a, b in sp)


# ---------------------------------------------------------------- fuzzy


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_blocked_fuzzy_pairs_matches_bruteforce(spark):
    from stream_loader_spark.operators.fuzzy import blocked_fuzzy_pairs

    rows = [
        (1, "alpha", "X"), (2, "alphq", "X"), (3, "alpha", "X"),
        (4, "beta", "X"), (5, "alpha", "Y"), (6, "alphaa", "Y"),
        (7, "gamma", "Y"), (8, "gamm", "Y"), (9, "zzzzzzzzzz", "X"),
    ]
    df = spark.createDataFrame(rows, "id long, name string, blk string")
    got = {
        tuple(r)
        for r in blocked_fuzzy_pairs(
            df, id_col="id", value_col="name", block_cols=["blk"], max_distance=2
        ).collect()
    }
    expected = set()
    for i, (ia, va, ba) in enumerate(rows):
        for ib, vb, bb in rows[i + 1:]:
            if ba != bb:
                continue
            d = _lev(va, vb)
            if d > 2:
                continue
            if va < vb:
                expected.add((ia, ib, va, vb, d))
            elif vb < va:
                expected.add((ib, ia, vb, va, d))
            else:
                expected.add((min(ia, ib), max(ia, ib), va, vb, d))
    assert got == expected
    # every unordered pair appears exactly once
    assert len({frozenset((a, b)) for a, b, *_ in got}) == len(got)


def test_blocked_fuzzy_pairs_validates(spark):
    from stream_loader_spark.operators.fuzzy import blocked_fuzzy_pairs

    df = spark.createDataFrame([(1, "a", "X")], "id long, name string, blk string")
    with pytest.raises(ValueError, match="columns not in input"):
        blocked_fuzzy_pairs(df, "id", "nope", ["blk"], 2)
    with pytest.raises(ValueError, match="max_distance"):
        blocked_fuzzy_pairs(df, "id", "name", ["blk"], -1)


# -------------------------------------------------------------- embstats


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np
    from stream_loader_spark.operators.embstats import embedding_covariance

    rng = np.random.default_rng(7)
    X = rng.normal(scale=0.3, size=(257, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, x.tolist()) for i, x in enumerate(X)],
        "vec_id long, embedding array<float>",
    ).repartition(5)
    got = {
        (r.i, r.j): r.cov
        for r in embedding_covariance(df, dim=8).collect()
    }
    assert len(got) == 8 * 9 // 2
    # exact reference over the same integer-scaled values
    S = np.where(X >= 0, np.floor(X.astype(np.float64) * 1e6 + 0.5),
                 -np.floor(-X.astype(np.float64) * 1e6 + 0.5)).astype(np.int64)
    n = float(len(S))
    for (i, j), cov in got.items():
        sxx = float(np.sum(S[:, i] * S[:, j]))
        want = (sxx / 1e12 - (S[:, i].sum() / 1e6) * (S[:, j].sum() / 1e6) / n) / n
        assert abs(cov - round(want, 6)) <= 1e-6, (i, j, cov, want)


def test_embedding_moment_partials_one_row_per_partition(spark):
    import numpy as np
    from stream_loader_spark.operators.embstats import embedding_moment_partials

    rng = np.random.default_rng(3)
    X = rng.normal(size=(64, 4)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, x.tolist()) for i, x in enumerate(X)],
        "vec_id long, embedding array<float>",
    ).repartition(6)
    parts = embedding_moment_partials(df, dim=4).collect()
    assert 1 <= len(parts) <= 6
    assert sum(p.n for p in parts) == 64
    assert all(len(p.s) == 4 and len(p.xtx) == 16 for p in parts)


def test_blocked_fuzzy_join_two_tables(spark):
    from stream_loader_spark.operators.fuzzy import blocked_fuzzy_join

    left = spark.createDataFrame(
        [(1, "kitten", "X"), (2, "sitting", "X"), (3, "kitten", "Y")],
        "id long, name string, blk string",
    )
    right = spark.createDataFrame(
        [(10, "sitting", "X"), (11, "kitten", "X"), (12, "mitten", "Y"),
         (13, "banana", "Y")],
        "id long, name string, blk string",
    )
    got = {
        tuple(r)
        for r in blocked_fuzzy_join(
            left, right, "id", "id", "name", "name", ["blk"], 3
        ).collect()
    }
    expected = set()
    for ia, va, ba in left.collect():
        for ib, vb, bb in right.collect():
            if ba == bb and _lev(va, vb) <= 3:
                expected.add((ia, ib, va, vb, _lev(va, vb)))
    assert got == expected
    assert (1, 10, "kitten", "sitting", 3) in got
    assert (3, 12, "kitten", "mitten", 1) in got


def test_embedding_whiten_decorrelates(spark):
    import numpy as np
    from stream_loader_spark.operators.embstats import embedding_whiten

    rng = np.random.default_rng(11)
    # correlated 6-dim data: latent 3-dim factors mixed into 6 dims
    Z = rng.normal(size=(400, 3))
    M = rng.normal(size=(3, 6))
    X = (Z @ M + 0.1 * rng.normal(size=(400, 6))).astype(np.float32)
    df = spark.createDataFrame(
        [(i, x.tolist()) for i, x in enumerate(X)],
        "vec_id long, embedding array<float>",
    ).repartition(4)
    W = np.stack(
        [np.array(r.whitened) for r in embedding_whiten(df, dim=6).collect()]
    )
    C = np.cov(W, rowvar=False, bias=True)
    assert np.abs(C - np.eye(6)).max() < 0.05


def test_embedding_pca_project_orders_variance(spark):
    import numpy as np
    from stream_loader_spark.operators.embstats import embedding_pca_project

    rng = np.random.default_rng(5)
    X = (rng.normal(size=(300, 5)) * np.array([5.0, 2.0, 1.0, 0.5, 0.1])).astype(
        np.float32
    )
    df = spark.createDataFrame(
        [(i, x.tolist()) for i, x in enumerate(X)],
        "vec_id long, embedding array<float>",
    ).repartition(3)
    out = embedding_pca_project(df, k=3, dim=5)
    assert out.columns == ["vec_id", "pc_0", "pc_1", "pc_2"]
    pdf = out.toPandas()
    variances = [pdf[f"pc_{c}"].var() for c in range(3)]
    assert variances[0] > variances[1] > variances[2]
    # dominant axis recovered: pc_0 tracks the scale-5 dimension
    assert np.abs(np.corrcoef(pdf.sort_values("vec_id")["pc_0"], X[:, 0])[0, 1]) > 0.99
    with pytest.raises(ValueError, match="collide"):
        embedding_pca_project(df.withColumnRenamed("vec_id", "pc_0"), k=3, dim=5, id_col="pc_0")


def test_blocked_fuzzy_join_compress_modes_agree(spark):
    from stream_loader_spark.operators.fuzzy import blocked_fuzzy_join

    left = spark.createDataFrame(
        [(1, "kitten", "X"), (2, "sitting", "X"), (3, "kitten", "Y")],
        "id long, name string, blk string",
    )
    right = spark.createDataFrame(
        [(10, "sitting", "X"), (11, "kitten", "X"), (12, "mitten", "Y")],
        "id long, name string, blk string",
    )
    kw = dict(left_id="id", right_id="id", left_value="name",
              right_value="name", block_cols=["blk"], max_distance=3)
    a = {tuple(r) for r in blocked_fuzzy_join(left, right, **kw).collect()}
    b = {tuple(r) for r in blocked_fuzzy_join(left, right, compress=False, **kw).collect()}
    assert a == b and a


def test_resize_media_shapes_and_determinism(spark):
    import hashlib
    from stream_loader_spark.operators.multimodal import resize_media

    rows = [(i * 3, "image", bytes(range(256))[: 17 + i * 13]) for i in range(8)]
    rows.append((99, "image", b""))      # empty payload: no row
    rows.append((100, "audio", b"abc"))  # non-image: filtered
    media = spark.createDataFrame(
        rows, "media_id long, media_type string, content binary"
    )
    out = {r.media_id: r for r in resize_media(media, out_w=8, out_h=8).collect()}
    assert set(out) == {i * 3 for i in range(8)}
    for mid, r in out.items():
        buf = dict((m, c) for m, _, c in rows)[mid]
        w = int(len(buf) ** 0.5)
        h = len(buf) // w
        assert (r.src_w, r.src_h) == (w, h)
        assert len(r.resized) == 64
        want = bytes(
            buf[(i * h) // 8 * w + (j * w) // 8] for i in range(8) for j in range(8)
        )
        assert bytes(r.resized) == want, mid
    # partitioning must not change results (batch-boundary invariance)
    out2 = {
        r.media_id: bytes(r.resized)
        for r in resize_media(media.repartition(7), out_w=8, out_h=8).collect()
    }
    assert out2 == {k: bytes(v.resized) for k, v in out.items()}
    with pytest.raises(ValueError, match="dimensions"):
        resize_media(media, out_w=0)


# ------------------------------------------------- in-row term counts


class TestDocTermCounts:
    """doc_term_counts must be bit-identical to the explode+groupBy
    shape it replaced (the retrieval family's df/idf/BM25 contracts all
    sit on this block)."""

    def _reference(self, docs, n):
        from stream_loader_spark.operators.text import tokens_col

        toks = (
            docs.select(F.col("doc_id"), tokens_col(F.col("text")).alias("toks"))
            .where(F.size("toks") >= n)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(toks) - {n} + 1),"
                        f" i -> array_join(slice(toks, i, {n}), ' '))"
                    )
                ).alias("token"),
            )
        )
        return toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tc"))

    def test_matches_groupby_reference_unigram_and_bigram(self, spark):
        from stream_loader_spark.operators.text import doc_term_counts

        rows = [
            (1, ""),                      # zero tokens -> no rows
            (2, "  \t \n "),              # whitespace-only -> no rows
            (3, "solo"),                  # single token (no bigram row)
            (4, "a a a a"),               # one run
            (5, "b a b a b"),             # interleaved runs
            (6, "the quick the quick the"),
            (7, "x y z"),
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        for n in (1, 2):
            got = {
                (r["doc_id"], r["token"]): r["tc"]
                for r in doc_term_counts(docs, n=n).collect()
            }
            want = {
                (r["doc_id"], r["token"]): r["tc"]
                for r in self._reference(docs, n).collect()
            }
            assert got == want, n
        assert got  # bigram case is non-trivial

    def test_extra_cols_ride_along(self, spark):
        from stream_loader_spark.operators.text import doc_term_counts

        docs = spark.createDataFrame(
            [(1, "a b a", "en"), (2, "c c", "de")],
            "doc_id bigint, text string, lang string",
        )
        got = {
            (r["doc_id"], r["lang"], r["token"]): r["tc"]
            for r in doc_term_counts(docs, extra_cols=("lang",)).collect()
        }
        assert got == {
            (1, "en", "a"): 2,
            (1, "en", "b"): 1,
            (2, "de", "c"): 2,
        }

    def test_schema_and_validation(self, spark):
        from stream_loader_spark.operators.text import doc_term_counts

        docs = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
        out = doc_term_counts(docs, n=2)
        assert [f.name for f in out.schema.fields] == ["doc_id", "token", "tc"]
        assert dict((f.name, f.dataType.simpleString()) for f in out.schema.fields)[
            "tc"
        ] == "bigint"
        with pytest.raises(ValueError, match="n must be >= 1"):
            doc_term_counts(docs, n=0)

    def test_runlength_explode_generic_values(self, spark):
        """Non-string elements (the dsir bucket shape) and the empty
        array both behave like explode+groupBy."""
        from stream_loader_spark.operators.text import runlength_explode

        df = spark.createDataFrame(
            [(1, [3, 1, 3, 3]), (2, []), (3, [7])],
            "id bigint, raw array<int>",
        ).select("id", F.array_sort("raw").alias("s"))
        got = {
            (r["id"], r["bucket"]): r["tc"]
            for r in runlength_explode(df, ("id",), "bucket").collect()
        }
        assert got == {(1, 1): 1, (1, 3): 3, (3, 7): 1}
