"""End-to-end corpus cleaning: the composed training-data pipeline.

The beyond-reference operators are DataFrame → DataFrame transforms, so
a production cleaning flow is plain composition — this module provides
the canonical order used by large-scale text pipelines:

1. language ID (keep target languages),
2. quality scoring (drop low-quality docs),
3. exact dedup (content digest),
4. near-dup dedup (MinHash-LSH pairs → components → keep representative),
5. token accounting for the surviving corpus.

Each stage only shrinks data, so the expensive near-dup stage runs on
the smallest surviving set. Everything before the LSH banding is a
narrow pipeline over the scan; the whole flow has three shuffles
(signature aggregation, band join, component iteration) regardless of
corpus size.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stream_loader_spark.operators.text import with_lang_id, with_text_stats
from stream_loader_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    dedup_keep_representative,
)


@dataclass(frozen=True)
class CorpusCleanConfig:
    keep_langs: tuple[str, ...] = ()  # empty = keep all
    min_quality: float = 0.0
    near_dup_threshold: float = 0.5
    id_col: str = "doc_id"
    text_col: str = "text"


def clean_corpus(documents: DataFrame, config: CorpusCleanConfig = CorpusCleanConfig()) -> DataFrame:
    """Run the full cleaning pipeline; returns surviving docs with
    pred_lang, quality_score and token_count attached."""
    id_col, text_col = config.id_col, config.text_col

    df = with_lang_id(documents, text_col)
    if config.keep_langs:
        df = df.where(F.col("pred_lang").isin(*config.keep_langs))

    # with_text_stats preserves its input columns, so the stats attach in
    # the same pass — no self-join, no second scan of the lang-id lineage
    df = with_text_stats(df, text_col).drop(
        "char_count", "punct_count", "avg_token_len", "stopword_ratio", "punct_ratio"
    )
    if config.min_quality > 0:
        df = df.where(F.col("quality_score") >= config.min_quality)

    # The filtered+scored base feeds the exact-dedup digest aggregate
    # and its semi-join left side; the dedup survivors then feed three
    # more consumers (LSH shingling, the verify semi-join, the
    # representative anti-join). Persist each once instead of re-running
    # the scan + lang-id + stats (+ content-hash dedup) lineage per
    # consumer; at cluster scale the same role is played by
    # checkpointing the cleaned/deduped corpus to storage between
    # stages. A repeated call over the same input plans the same two
    # frames, so Spark's CacheManager hands back the cached data instead
    # of stacking a second persisted copy.
    base = df.persist()
    keep_exact = exact_dedup(base, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    df = base.join(keep_exact, id_col, "left_semi").persist()

    # near-dup dedup on the exact-dedup survivors
    pairs = minhash_lsh_pairs(df, text_col, id_col, threshold=config.near_dup_threshold)
    return dedup_keep_representative(df, pairs, id_col)
