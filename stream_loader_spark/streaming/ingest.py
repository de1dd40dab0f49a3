"""Streaming corpus ingest: per-micro-batch dedup against history.

Composes the incremental training-corpus operators with Structured
Streaming: each micro-batch of documents is exact-deduped within
itself and against the persisted content-hash history, survivors land
in the corpus, and exactly their hashes are appended to the history —
so the history table stays the authoritative 32-bytes-per-document
dedup state across restarts.

Exactly-once shape: every ingest sink keeps its state in one
batch-directory table (sinks/table.py). Batch ``n`` writes a
deterministic ``batch=n`` dir under each of the sink's parts (corpus
and hashes, corpus and bands, assignments, segments) in overwrite
mode, then appends one ``CommitLog`` record naming the rows each dir
holds. Readers and the history a batch dedups against see only
recorded batches, so a crash before the record leaves invisible files
that the replay overwrites, and a replay of a recorded batch is a
no-op. ``compact`` folds the recorded dirs into one generation per
part under one compaction record and ``vacuum`` deletes what it
superseded; run both between triggers (``--maintain``).

Scale: the per-batch work is the batch's hash aggregate plus an
anti-join against the history table; with both sides bucketed on
content_hash (operators/bucketing.py) the anti-join co-locates. The
history grows 32 bytes per unique document — at 10B documents that is
~320 GB, a normal Spark table, never driver-resident.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_loader_spark.operators.dedup import incremental_exact_dedup
from stream_loader_spark.sinks.manifest import atomic_write_json
from stream_loader_spark.sinks.table import BatchTable

# the JSON state files, each written only through atomic_write_json
_GROWTH = "growth.json"
_SCHEME = "scheme.json"
# generations a tiered IndexIngestSink.compact keeps live
_TIER_FANOUT = 8


def _read_json(path: str) -> dict | None:
    import json

    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _has_data_files(d: str) -> bool:
    """True if the directory tree contains at least one parquet part
    file. The honest emptiness test: deciding 'empty' from a failed
    spark.read would turn a transient IO error into silently-missing
    state."""
    for _root, _dirs, files in os.walk(d):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _table(out_dir: str, *parts: str, partition_by: str | None = None) -> BatchTable:
    """The sink's batch-directory table: ``parts`` are subdirs of
    ``out_dir``, the log is ``out_dir/_manifest``."""
    return BatchTable(out_dir, {p: os.path.join(out_dir, p) for p in parts}, partition_by)


class IndexGrowthGuard:
    """Build-time-N bookkeeping for persisted index sinks.

    A persisted index freezes its geometry at build time (banding
    scheme, quantizer cells) while the auto-sizers pick geometry from
    the LIVE corpus count (``auto_lsh_params``) — so a stream growing
    far past its build-time N silently re-enters the quadratic
    candidate floor the sizing removed, or strands an IVF quantizer
    with ever-fatter cells. Nothing fails: the scheme still matches
    itself. This guard records the count the geometry was sized for in
    the index manifest (``growth.json``), accumulates the live count
    as batches commit, and past ``growth_factor`` emits a LOUD
    ``RuntimeWarning`` on every append/probe plus a machine-readable
    :meth:`status` for maintenance jobs to trigger
    re-banding/retraining (``NearDupIngestSink.reband``).

    A sink counts a batch after its writes and before its commit
    record, keyed by batch id: a crash between the two replays the
    batch, whose count the guard skips by id, so a count is never lost
    nor doubled.
    """

    def __init__(self, index_dir: str, growth_factor: float = 8.0) -> None:
        self.index_dir = index_dir
        self.growth_factor = float(growth_factor)

    def _state(self) -> dict:
        return _read_json(os.path.join(self.index_dir, _GROWTH)) or {
            "built_n": None,
            "live_n": 0,
            "last_batch": None,
        }

    def observe(self, n_added: int, batch_id: int) -> None:
        st = self._state()
        if batch_id >= 0:
            # monotone stream space: at-or-below the high-water id means
            # a replayed batch whose rows are already counted
            if st["last_batch"] is not None and batch_id <= st["last_batch"]:
                return
            st["last_batch"] = batch_id
        else:
            # reserved negative backfill ids sit OUTSIDE the monotone
            # space (mirrors the manifest sink): a backfill ingested
            # AFTER stream batches must still count, so replays are
            # detected by exact id, not order. Bounded: backfills are
            # rare one-shot loads, not per-micro-batch events.
            seen_neg = set(st.get("seen_neg", []))
            if batch_id in seen_neg:
                return
            seen_neg.add(batch_id)
            st["seen_neg"] = sorted(seen_neg)
        st["live_n"] = int(st["live_n"]) + int(n_added)
        if st["built_n"] is None and st["live_n"] > 0:
            # geometry was sized by whatever built the first non-empty
            # state — that count is the baseline growth is measured from
            st["built_n"] = st["live_n"]
        atomic_write_json(self.index_dir, st, _GROWTH)

    def reset(self, built_n: int | None = None) -> None:
        """Re-baseline after a rebuild sized the geometry for the
        current corpus (built_n defaults to the live count)."""
        st = self._state()
        st["built_n"] = int(st["live_n"] if built_n is None else built_n)
        atomic_write_json(self.index_dir, st, _GROWTH)

    def status(self) -> dict:
        st = self._state()
        built, live = st["built_n"], int(st["live_n"])
        factor = (live / built) if built else 0.0
        return {
            "built_n": built,
            "live_n": live,
            "growth": round(factor, 2),
            "needs_rebuild": bool(built) and factor >= self.growth_factor,
        }

    def check(self, what: str) -> dict:
        import warnings

        st = self.status()
        if st["needs_rebuild"]:
            warnings.warn(
                f"{what}: index geometry was sized for ~{st['built_n']} items "
                f"but the corpus has grown {st['growth']}x to {st['live_n']} "
                f"(threshold {self.growth_factor}x) - candidate buckets no "
                "longer match the sizing rule; rebuild/re-band the index "
                "(e.g. NearDupIngestSink.reband) during a maintenance window.",
                RuntimeWarning,
                stacklevel=3,
            )
        return st


class DedupIngestSink:
    """``foreachBatch`` callable: dedup each batch against history and
    append survivors.

    Layout under ``out_dir`` (a batch-directory table, see module doc)::

        corpus/   surviving document rows (+ content_hash)
        hashes/   exactly the hashes each batch added
        _manifest/
    """

    def __init__(self, out_dir: str, text_col: str = "text", id_col: str = "doc_id") -> None:
        self.text_col = text_col
        self.id_col = id_col
        self.store = _table(out_dir, "corpus", "hashes")

    def _history(self, spark: SparkSession) -> DataFrame:
        """Every committed hash."""
        return self.store.read(spark, "hashes", "content_hash string").select("content_hash")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.store.replayed(batch_df, batch_id):
            return
        survivors = incremental_exact_dedup(
            batch_df,
            self._history(batch_df.sparkSession),
            text_col=self.text_col,
            id_col=self.id_col,
        )
        rows = self.store.write(
            batch_id, {"corpus": survivors, "hashes": survivors.select("content_hash")}
        )
        self.store.commit(batch_id, rows)

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """Fold the committed batches into one generation per part (run
        between triggers); returns the rows written per part."""
        return self.store.compact(spark)

    def vacuum(self) -> list[str]:
        return self.store.vacuum()

    def committed_corpus(self, spark: SparkSession) -> DataFrame:
        return self.store.read(spark, "corpus")


class NearDupIngestSink:
    """``foreachBatch`` callable: near-dup gate each batch against the
    corpus's persisted LSH band index.

    Policy per micro-batch (the practical ingest rule):

    - a batch document near-dup to ANY historical document is dropped
      (history always wins — it is already written);
    - within the batch, near-dup clusters keep their min-id member
      (connected components over the batch-only pairs);
    - survivors land in ``corpus`` and their band rows in ``bands``,
      the two parts of the sink's batch-directory table (see module
      doc); the corpus is also the index's ``(id, text)`` store.

    Scale: the per-batch cost is the batch's own MinHash (corpus text
    is shingled only for collision-touched ids, see
    ``incremental_near_dup_pairs``); the index grows NUM_BANDS rows
    (~a few hundred bytes) per kept document.
    """

    def __init__(
        self,
        out_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_bands: int | None = None,
        growth_factor: float = 8.0,
    ) -> None:
        from stream_loader_spark.operators.dedup import NUM_BANDS

        self.out_dir = out_dir
        self.text_col = text_col
        self.id_col = id_col
        self.num_bands = NUM_BANDS if num_bands is None else int(num_bands)
        self._check_scheme()
        self.store = _table(out_dir, "corpus", "bands")
        self.growth = IndexGrowthGuard(self.out_dir, growth_factor)

    @property
    def _scheme(self) -> str:
        from stream_loader_spark.operators.dedup import signature_scheme

        return signature_scheme(self.num_bands)

    def _check_scheme(self) -> None:
        """Stamp the banding scheme on a fresh index; refuse to reopen
        an index built under a different one. Band hashes from two
        schemes never collide meaningfully, so mixing them would
        silently stop finding history duplicates instead of erroring.
        """
        SIGNATURE_SCHEME = self._scheme

        self._needs_reband = False
        existing = _read_json(os.path.join(self.out_dir, _SCHEME))
        if existing is not None and existing.get("rebanding"):
            # interrupted reband (crash between the band rewrite and the
            # scheme re-stamp): band rows may mix two schemes, so fail
            # CLOSED on probing — but let a ctor targeting the same
            # scheme open the index to rerun reband() and finish it
            if existing.get("scheme") != SIGNATURE_SCHEME:
                raise ValueError(
                    f"band index at {self.out_dir!r} has an interrupted "
                    f"reband toward scheme {existing.get('scheme')!r}; open "
                    "with that banding and rerun reband() to finish it"
                )
            self._needs_reband = True
            return
        if existing is None:
            # Only stamp a genuinely FRESH index. A directory that
            # already holds band data but no scheme.json was built
            # by a version that predates scheme stamping — its band
            # hashes come from an unknown family, so stamping and
            # probing it would be exactly the silent recall loss this
            # guard exists to prevent.
            bands = os.path.join(self.out_dir, "bands")
            if os.path.isdir(bands) and os.listdir(bands):
                raise ValueError(
                    f"band index at {self.out_dir!r} has data but no "
                    "scheme.json: it predates banding-scheme stamping "
                    "and its band hashes are from an unknown scheme; "
                    "rebuild the index — probing across schemes "
                    "silently loses recall"
                )
            os.makedirs(self.out_dir, exist_ok=True)
            atomic_write_json(self.out_dir, {"scheme": SIGNATURE_SCHEME}, _SCHEME)
        elif existing.get("scheme") != SIGNATURE_SCHEME:
            raise ValueError(
                f"band index at {self.out_dir!r} was built with scheme "
                f"{existing.get('scheme')!r} but this build uses "
                f"{SIGNATURE_SCHEME!r}; rebuild the index (or run the "
                "matching version) — probing across schemes silently "
                "loses recall"
            )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from stream_loader_spark.operators.dedup import (
            band_index,
            _paired_labels,
            incremental_near_dup_pairs,
        )

        spark = batch_df.sparkSession
        if self._needs_reband:
            raise ValueError(
                f"band index at {self.out_dir!r} has an interrupted reband; "
                "its band rows may mix two schemes - rerun reband() to "
                "finish the rebuild before probing"
            )
        if self.store.replayed(batch_df, batch_id):
            return
        self.growth.check("NearDupIngestSink")
        hist = self.store.reads(
            spark,
            {
                "corpus": f"{self.id_col} long, {self.text_col} string",
                "bands": f"{self.id_col} long, band int, band_hash bigint",
            },
        )
        hist_docs = hist["corpus"].select(self.id_col, self.text_col)
        hist_bands = hist["bands"].select(self.id_col, "band", "band_hash")
        batch_df = batch_df.persist()
        pairs = incremental_near_dup_pairs(
            batch_df,
            hist_docs,
            hist_bands,
            self.text_col,
            self.id_col,
            num_bands=self.num_bands,
        ).persist()

        hist_hit = (
            pairs.join(hist_docs.select(self.id_col).withColumnRenamed(self.id_col, "doc_a"), "doc_a")
            .select(F.col("doc_b").alias(self.id_col))
            .union(
                pairs.join(
                    hist_docs.select(self.id_col).withColumnRenamed(self.id_col, "doc_b"),
                    "doc_b",
                ).select(F.col("doc_a").alias(self.id_col))
            )
            .distinct()
        )
        remaining = batch_df.join(hist_hit, self.id_col, "left_anti")
        # batch-only pairs among still-standing docs -> min-id per cluster
        rem_ids = remaining.select(self.id_col)
        batch_pairs = (
            pairs.join(rem_ids.withColumnRenamed(self.id_col, "doc_a"), "doc_a")
            .join(rem_ids.withColumnRenamed(self.id_col, "doc_b"), "doc_b")
            .select("doc_a", "doc_b")
        )
        # losers are paired docs only — skip the corpus-sized
        # singleton labeling (see dedup._paired_labels)
        comps = _paired_labels(remaining, batch_pairs, self.id_col)
        losers = comps.where(F.col(self.id_col) != F.col("cluster_id")).select(self.id_col)
        survivors = remaining.join(losers, self.id_col, "left_anti").persist()

        rows = self.store.write(
            batch_id,
            {
                "corpus": survivors,
                "bands": band_index(survivors, self.text_col, self.id_col, self.num_bands),
            },
        )
        self.growth.observe(rows["corpus"], batch_id)  # before the record
        self.store.commit(batch_id, rows)
        pairs.unpersist()
        batch_df.unpersist()
        survivors.unpersist()

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """Fold the committed batches into one generation per part (run
        between triggers); returns the rows written per part."""
        return self.store.compact(spark)

    def vacuum(self) -> list[str]:
        return self.store.vacuum()

    def reband(self, spark: SparkSession, num_bands: int | None = None) -> int:
        """Rebuild the band index from the persisted documents under a
        (possibly new) banding and re-baseline the growth guard — the
        maintenance op :class:`IndexGrowthGuard` points at when the
        corpus outgrows its build-time sizing.

        Cost is O(corpus text) — one re-shingle/re-hash pass — which is
        the honest price of changing LSH geometry; the guard's
        growth_factor spaces these rebuilds logarithmically over the
        stream's lifetime. One compaction record folds the corpus into
        one generation and replaces the bands with the rebuilt index
        (``BatchTable.replace_all``); run it between triggers. Crash
        discipline: the ``rebanding`` marker flips in scheme.json
        first, so a crash between the band rewrite and the scheme
        re-stamp fails CLOSED on reopen (mixed-scheme band rows are
        never silently probed); rerunning reband() completes the
        rebuild. Returns the number of band rows written.
        """
        from stream_loader_spark.operators.dedup import band_index

        if num_bands is not None:
            self.num_bands = int(num_bands)
        atomic_write_json(self.out_dir, {"scheme": self._scheme, "rebanding": True}, _SCHEME)
        corpus = self.store.read(spark, "corpus", f"{self.id_col} long, {self.text_col} string")
        n = self.store.replace_all(
            spark,
            {
                "corpus": corpus,
                "bands": band_index(corpus, self.text_col, self.id_col, self.num_bands),
            },
        )["bands"]
        atomic_write_json(self.out_dir, {"scheme": self._scheme}, _SCHEME)
        self._needs_reband = False
        self.growth.reset()
        return n

    def committed_corpus(self, spark: SparkSession) -> DataFrame:
        return self.store.read(spark, "corpus")


class IvfIngestSink:
    """``foreachBatch`` callable: streaming maintenance of an IVF
    similarity index — the ANN twin of ``DedupIngestSink``.

    - The coarse quantizer (centroids) trains ONCE on the first
      non-empty batch (Lloyd refinement of the batch's smallest-id
      vectors) and is frozen thereafter — the standard IVF discipline:
      a quantizer that drifted per batch would strand earlier
      assignments in stale cells.
    - Every batch's vectors are assigned to their nearest centroid
      (broadcast argmax, one corpus pass) and land under
      ``assignments/batch=<n>/cluster_id=<c>/`` — Hive-partitioned by
      cluster, so a probe reads only its nprobe clusters' directories
      AT THE SCAN, at any index size.
    - ``assignments`` is the one part of the sink's batch-directory
      table (see module doc), so replays are idempotent; training is
      deterministic, so a first batch replayed before its record
      rewrites the identical quantizer.

    ``topk`` probes the persisted index via ``ivf_probe`` — queries
    never trigger an index rebuild.
    """

    def __init__(
        self,
        out_dir: str,
        num_centroids: int = 16,
        kmeans_iterations: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        self.out_dir = out_dir
        self.num_centroids = num_centroids
        self.kmeans_iterations = kmeans_iterations
        self.id_col = id_col
        self.vec_col = vec_col
        self.store = _table(out_dir, "assignments", partition_by="cluster_id")
        # the frozen quantizer's cells fatten linearly as the corpus
        # grows past its training-time N (probe cost ~ nprobe * N / C);
        # the guard makes that drift loud instead of silent — the
        # remedy is a retrain + reassign maintenance pass, deliberately
        # NOT automatic (quantizer drift strands prior assignments)
        self.growth = IndexGrowthGuard(self.out_dir)

    @property
    def _centroids_dir(self) -> str:
        return os.path.join(self.out_dir, "centroids")

    def centroids(self, spark: SparkSession) -> DataFrame | None:
        """The frozen quantizer, or None if never trained. Existence is
        decided by LISTING, never by a swallowed read error — treating
        a transient IO failure as 'not trained' would silently retrain
        and strand every prior assignment in the old quantizer's cells
        (the exact failure the freeze exists to prevent)."""
        if not _has_data_files(self._centroids_dir):
            return None
        return spark.read.parquet(self._centroids_dir)

    def _train(self, batch_df: DataFrame) -> DataFrame:
        from stream_loader_spark.operators.similarity import kmeans_centroids

        spark = batch_df.sparkSession
        rows = (
            batch_df.orderBy(F.col(self.id_col))
            .limit(self.num_centroids)
            .select(self.vec_col)
            .collect()
        )  # ≤ num_centroids × dim values — never corpus-sized
        initial = spark.createDataFrame(
            [(i, [float(x) for x in r[0]]) for i, r in enumerate(rows)],
            "centroid_id int, centroid_vec array<double>",
        )
        if self.kmeans_iterations <= 0:
            return initial
        return kmeans_centroids(
            batch_df,
            min(self.num_centroids, len(rows)),
            self.kmeans_iterations,
            self.id_col,
            self.vec_col,
            initial=initial,
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from stream_loader_spark.operators.similarity import assign_clusters

        spark = batch_df.sparkSession
        if self.store.replayed(batch_df, batch_id):
            return
        # the batch is consumed several times on the training path
        # (take, seed collect, one pass per Lloyd iteration, assignment
        # write) and twice otherwise — recomputing a source-backed
        # micro-batch per action would re-fetch it from the source
        batch_df = batch_df.persist()
        try:
            cents = self.centroids(spark)
            if cents is None:
                if not batch_df.take(1):
                    return  # nothing to train on yet
                # atomic quantizer commit: write aside, one directory
                # rename publishes it — a crash mid-write leaves an
                # unreferenced tmp dir, never a partially-visible
                # quantizer that would be frozen forever
                tmp = self._centroids_dir + ".tmp"
                self._train(batch_df).write.mode("overwrite").parquet(tmp)
                if os.path.isdir(self._centroids_dir):
                    # crash leftover with no data files (centroids()
                    # returned None) — clear it so the rename lands
                    shutil.rmtree(self._centroids_dir)
                os.rename(tmp, self._centroids_dir)
                cents = self.centroids(spark)
            # every row gets a cell (the trained quantizer is never
            # empty), so the rows written are the batch's rows
            assigned = assign_clusters(
                batch_df, self.num_centroids, self.id_col, self.vec_col, centroids=cents
            )
            rows = self.store.write(batch_id, {"assignments": assigned})
            self.growth.observe(rows["assignments"], batch_id)  # before the record
            self.store.commit(batch_id, rows)
            self.growth.check("IvfIngestSink")
        finally:
            batch_df.unpersist()

    def assignments(self, spark: SparkSession) -> DataFrame:
        return self.store.read(spark, "assignments").select(
            self.id_col, self.vec_col, "cluster_id"
        )

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """Fold the committed batches into one generation, keeping the
        cluster_id layout (run between triggers); returns the rows
        written."""
        return self.store.compact(spark)

    def vacuum(self) -> list[str]:
        return self.store.vacuum()

    def topk(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 4,
    ) -> DataFrame:
        """Approximate top-k over the committed index. ``queries`` is
        (query_id, query_vec); with nprobe = num_centroids the probe is
        exhaustive and the result exact."""
        from stream_loader_spark.operators.similarity import ivf_probe

        self.growth.check("IvfIngestSink.topk")

        cents = self.centroids(spark)
        if cents is None:
            raise ValueError(f"no trained index under {self.out_dir}")
        return ivf_probe(
            self.assignments(spark),
            cents,
            queries,
            k,
            nprobe,
            self.id_col,
            self.vec_col,
        )

    def retrain(
        self, spark: SparkSession, num_centroids: int | None = None
    ) -> int:
        """Retrain the coarse quantizer on the CURRENT corpus and
        reassign every vector — the IVF twin of
        ``NearDupIngestSink.reband``, and the maintenance op
        :class:`IndexGrowthGuard` points at when the corpus outgrows
        its training-time N (cells fatten linearly; C should grow
        ~sqrt(N)). Deliberately manual, never automatic: a quantizer
        that drifted per batch would strand earlier assignments in
        stale cells, which is exactly what the full reassign here
        avoids.

        Cost is O(corpus) — Lloyd refinement plus one full
        reassignment pass — the honest price of changing quantizer
        geometry; the guard's growth factor spaces retrains
        logarithmically over the stream's lifetime. Run it between
        triggers: the reassigned vectors replace the assignments under
        one compaction record (``BatchTable.replace_all``). Crash
        discipline: the new
        centroids land via write-aside + directory rename BEFORE the
        assignment swap — a crash between the two leaves new centroids
        with old assignments, which ``retrain()`` rerun repairs and
        which probes meanwhile treat consistently (every assignment is
        still a valid cell id; recall degrades, correctness of the
        probe contract does not). Returns the number of vectors
        reassigned.
        """
        from stream_loader_spark.operators.similarity import (
            assign_clusters,
            kmeans_centroids,
        )

        if num_centroids is not None:
            self.num_centroids = int(num_centroids)
        corpus = self.assignments(spark).select(self.id_col, self.vec_col)
        corpus = corpus.persist()
        try:
            seeds = (
                corpus.orderBy(F.col(self.id_col))
                .limit(self.num_centroids)
                .select(self.vec_col)
                .collect()
            )
            if not seeds:
                raise ValueError(f"no vectors to retrain on under {self.out_dir}")
            initial = spark.createDataFrame(
                [(i, [float(x) for x in r[0]]) for i, r in enumerate(seeds)],
                "centroid_id int, centroid_vec array<double>",
            )
            cents = kmeans_centroids(
                corpus,
                min(self.num_centroids, len(seeds)),
                max(self.kmeans_iterations, 1),
                self.id_col,
                self.vec_col,
                initial=initial,
            )
            tmp = self._centroids_dir + ".tmp"
            cents.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(self._centroids_dir, ignore_errors=True)
            os.rename(tmp, self._centroids_dir)
            assigned = assign_clusters(
                corpus,
                self.num_centroids,
                self.id_col,
                self.vec_col,
                centroids=self.centroids(spark),
            )
            n = self.store.replace_all(spark, {"assignments": assigned})["assignments"]
        finally:
            corpus.unpersist()
        self.growth.reset()
        return n


class IndexIngestSink:
    """``foreachBatch`` callable: streaming maintenance of the n-gram
    inverted index — each micro-batch lands as a SEGMENT (its
    per-(term, doc) counts), compaction merges segments, and term
    lookups prune to the token's hash bucket. The Lucene shape on
    Spark primitives: segment-per-batch, merge-on-maintenance,
    partition-pruned postings reads.

    Layout under ``out_dir``::

        segments/batch=<n>/tbucket=<b>/   (token, doc_id, tc) rows

    Design notes:

    - Segments are pre-aggregated per (token, doc) — the narrowest
      exact state the index can keep. The df band is applied at READ
      time: document frequency is corpus-global and keeps changing as
      batches arrive, so banding at write time would silently freeze
      each term's verdict at whatever the corpus looked like when it
      first appeared.
    - Segments are hash-partitioned by ``tbucket = pmod(xxhash64(token),
      n_buckets)``: a term lookup filters on tbucket, so the scan
      reads 1/n_buckets of the index regardless of corpus size — the
      property that keeps single-term queries interactive at 100 TB.
    - Replay idempotence and compaction are the batch-directory
      table's (see module doc): ``segments`` is its one part, and
      ``compact()`` and ``vacuum()`` run between triggers.
    """

    def __init__(
        self,
        out_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 2,
        n_buckets: int = 64,
    ) -> None:
        if n < 1:
            raise ValueError(f"n must be >= 1, got {n}")
        self.out_dir = out_dir
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.n_buckets = n_buckets
        self.store = _table(out_dir, "segments", partition_by="tbucket")

    def _segment(self, batch_df: DataFrame) -> DataFrame:
        # in-row run-length histogram (operators.text.doc_term_counts):
        # the (doc, token) aggregate never crosses document rows, so the
        # segment build is a narrow map with no exchange ahead of the
        # tbucket-partitioned write
        from stream_loader_spark.operators.text import doc_term_counts

        return doc_term_counts(
            batch_df, self.text_col, self.id_col, self.n
        ).withColumn(
            "tbucket", F.pmod(F.xxhash64("token"), F.lit(self.n_buckets))
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.store.replayed(batch_df, batch_id):
            return
        self.store.commit(
            batch_id, self.store.write(batch_id, {"segments": self._segment(batch_df)})
        )

    def _merge_segments(self, df: DataFrame) -> DataFrame:
        """Re-aggregate segment rows by (token, doc): a doc whose text
        arrives in more than one micro-batch lands one (token, doc, tc)
        row PER SEGMENT, and without this fold df counts it twice, tf
        double-groups, and the postings list emits the doc twice —
        silently breaking the inverted_postings output contract. Sum is
        associative, so applying this per compaction generation AND at
        read time composes correctly."""
        return df.groupBy("token", self.id_col, "tbucket").agg(
            F.sum("tc").alias("tc")
        )

    def compact(self, spark: SparkSession, tiered: bool = False) -> dict[str, int]:
        """Merge the committed segments, keeping the tbucket layout (run
        between triggers). ``tiered=False`` folds the whole index into
        one generation — O(index) per call; ``tiered=True`` uses
        generational merging (``BatchTable.compact`` with a fanout) so
        per-call cost tracks newly-arrived segments, the shape that
        stays bounded at 100k-micro-batch lifetimes. Duplicate (token,
        doc) rows across the folded segments are summed either way.
        Returns the rows the fold of new segments wrote."""
        return self.store.compact(
            spark, self._merge_segments, _TIER_FANOUT if tiered else None
        )

    def vacuum(self) -> list[str]:
        return self.store.vacuum()

    def postings(
        self, spark: SparkSession, min_df: int = 2, max_df: int = 50
    ) -> DataFrame:
        """The committed index's df-banded postings — identical output
        contract to ``operators.text.inverted_postings`` over the
        ingested corpus (pinned by test, including docs split across
        micro-batches). A full-index aggregate: use ``lookup`` for term
        queries; this is the bulk/export path."""
        state = self._merge_segments(self.store.read(spark, "segments"))
        keep = (
            state.groupBy("token")
            .agg(F.count(F.lit(1)).alias("df"), F.sum("tc").alias("tf"))
            .where((F.col("df") >= min_df) & (F.col("df") <= max_df))
        )
        return (
            state.join(F.broadcast(keep), "token")
            .groupBy("token", "df", "tf")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.col(self.id_col).cast("bigint"))
                        ),
                        lambda d: d.cast("string"),
                    ),
                    ",",
                ).alias("postings")
            )
            .select("token", "df", "tf", "postings")
        )

    def lookup(self, spark: SparkSession, terms: list[str]) -> DataFrame:
        """Posting rows for specific terms: (token, doc_id, tc).

        Read-time union PRE-PRUNE: the terms' ``tbucket=<b>`` leaf
        directories are enumerated driver-side across every live
        segment/generation and read as ONE multi-root scan, so the
        physical plan carries a single scan node however many tiered
        generations are live. A union of every live root filtered on
        tbucket prunes the same files but pays one scan node and one
        listing per generation (measured: lookup latency 1.2s → 2.4s
        with six live generations), the read-side fan-out Lucene
        bounds with its max-merged tier. Reads 1/n_buckets of the
        index per distinct bucket, never the corpus; per-segment
        duplicate (token, doc) rows merge in the aggregate."""
        if not terms:
            raise ValueError("terms must be non-empty")
        dirs = self.store.dirs("segments")
        if not dirs:
            raise ValueError(f"no committed segments under {self.out_dir}")
        term_lit = F.array(*[F.lit(t) for t in terms])
        buckets = sorted(
            {  # driver-side xxhash64 is not available: derive via a tiny job
                r.b
                for r in spark.createDataFrame(
                    [(t,) for t in terms], "token string"
                )
                .select(F.pmod(F.xxhash64("token"), F.lit(self.n_buckets)).alias("b"))
                .collect()
            }
        )
        pruned = [
            p
            for d in dirs
            for b in buckets
            if os.path.isdir(p := os.path.join(d, f"tbucket={b}"))
        ]
        if not pruned:
            return spark.createDataFrame(
                [], f"token string, {self.id_col} long, tc bigint"
            )
        return (
            spark.read.parquet(*pruned)
            .where(F.array_contains(term_lit, F.col("token")))
            .groupBy("token", self.id_col)
            .agg(F.sum("tc").alias("tc"))
            .select("token", self.id_col, "tc")
        )
