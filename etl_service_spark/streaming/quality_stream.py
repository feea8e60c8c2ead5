"""Streaming corpus-quality monitoring: per-(source, lang) quality and
token statistics maintained from the document stream.

The watch-the-crawl-drift question: is source X's quality dropping, is
language Y's token mass growing? Every statistic kept here is an
ALGEBRAIC aggregate — (sum, count, min, max) partials — so the same
append-log + compact-on-read shape as the HLL register stream applies:
each micro-batch appends its partial rows (crash-safe: parquet job
commits are task-atomic, no delete-then-write window), readers merge
with one tiny aggregate. The maintained table therefore equals the
batch recomputation over everything ever seen, however the stream was
chopped — and a replayed batch is the only duplication mode, bounded
to one batch of partial rows.

At 100 TB the partial log is O(batches x sources x langs) rows — a
monitoring table, never data volume; compact it by rewriting the
merged form whenever it annoys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .corpus_stream import read_document_stream  # noqa: F401  (the document source)
from .events_stream import drain


def quality_partials(docs: DataFrame) -> DataFrame:
    """One micro-batch -> per-(source, lang) algebraic partials of the
    quality kernel's outputs (zero-shuffle Arrow pass + one tiny
    aggregate)."""
    from ..operators.textops import quality_scores_df

    scored = quality_scores_df(docs).select("doc_id", "n_tokens", "quality")
    joined = docs.select("doc_id", "source", "lang").join(scored, "doc_id")
    # quality is floor(x*1e6)/1e6 — recover the exact integer micro
    # units before summing: BIGINT sums are associative, so partials
    # merged in ANY batch order equal the batch recomputation exactly
    # (a float SUM(quality) would drift with batching).
    q_ppm = F.expr("CAST(ROUND(quality * 1e6) AS BIGINT)")
    return joined.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum(q_ppm).alias("sum_quality_ppm"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


def run_quality_rollup(docs: DataFrame, checkpoint_dir: str, table_dir: str) -> None:
    """Append each micro-batch's partial rows to the monitoring log."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        quality_partials(batch_df).write.mode("append").parquet(table_dir)

    drain(docs.writeStream.outputMode("append").foreachBatch(upsert), checkpoint_dir)


def read_quality_stats(spark: SparkSession, table_dir: str) -> DataFrame:
    """Compact the partial log into current per-(source, lang) stats:
    sums/counts add, min/max take extrema — all associative, so the
    merge equals the batch recomputation regardless of batching."""
    return (
        spark.read.parquet(table_dir)
        .groupBy("source", "lang")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_tokens").alias("sum_tokens"),
            F.sum("sum_quality_ppm").alias("sum_quality_ppm"),
            F.min("min_quality").alias("min_quality"),
            F.max("max_quality").alias("max_quality"),
        )
        .withColumn(
            "mean_quality",
            F.col("sum_quality_ppm") / F.col("n_docs") / F.lit(1e6),
        )
    )
