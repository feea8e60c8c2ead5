"""Streaming corpus curation: the end-to-end training-data pipeline as
a restartable micro-batch stream.

Raw document drops land in a directory; each micro-batch runs the SAME
operators the batch plane exposes, in the order a pretraining pipeline
runs them:

1. incremental exact dedup against the persisted fingerprint table
   (operators/dedup.incremental_dedup — anti-join on the 64-bit text
   hash; history cost tracks the fingerprint table, never the corpus;
   re-delivered or re-crawled identical texts are suppressed forever);
2. quality gate (textops.quality_scores_df — the zero-shuffle Arrow
   kernel; identical text scores identically, so dedup-before-quality
   loses nothing);
3. deterministic split assignment (``corpus.SPLIT_EXPR``, imported —
   a pure function of doc_id, so a document can never migrate between
   train/val/test across pipeline versions or replays);
4. append to the curated store, partitioned by split (so training
   readers prune to their split at the directory level).

Replay safety: the curated append lands BEFORE the fingerprint append
(write ordering matters — were fingerprints recorded first, a crash
between the two writes would make the replayed batch anti-join its own
docs away and drop them from the curated store forever). With this
ordering a crash between the writes replays as bounded duplicate rows
in the curated store for that one batch, which the fingerprint
anti-join suppresses on every subsequent delivery — at-least-once into
the curated store, exactly-once into the dedup state. Readers needing
exact-once rows dedup on doc_id at read time (a cheap
dropDuplicates over the one affected partition set).

At 100 TB: the fingerprint table is bucketed by hash (see
copy.write_bucketed) so the anti-join co-locates; everything else is
map-side per batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.corpus import SPLIT_EXPR
from .events_stream import drain

DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def read_document_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream of raw document parquet drops (documents-table
    layout)."""
    return spark.readStream.schema(DOC_SCHEMA).parquet(landing_dir)


def curate_batch(
    batch_df: DataFrame,
    fingerprint_dir: str,
    out_dir: str,
    q_min: float = 0.45,
    benchmark_fps_dir: str | None = None,
    neardup_state_dir: str | None = None,
) -> None:
    """One micro-batch through dedup → contamination gate → quality →
    split → append.

    ``benchmark_fps_dir``: optional parquet table of benchmark text
    hashes (``text_hash`` column) — eval-set decontamination AT INGEST:
    a doc whose exact text hash appears in any held-out benchmark never
    enters the curated store. Benchmark sets are tiny, so the anti-join
    broadcasts; the doc's fingerprint IS still recorded (it was seen —
    re-deliveries must not reprocess it). The batch twin is the
    corpus_contamination registry query; this is its streaming gate.

    ``neardup_state_dir``: optional minhash band-key state — adds the
    NEAR-dup gate (dedup.neardup_gate) after the exact one, so
    paraphrased/lightly-edited re-crawls of anything seen in earlier
    batches are suppressed too. Its state append obeys the same
    curated-first write ordering."""
    from ..operators import textops
    from ..operators.dedup import incremental_dedup, neardup_gate

    spark = batch_df.sparkSession
    batch_df = batch_df.localCheckpoint(eager=True)  # stable across the two uses
    # defer the fingerprint append: curated rows must be durable first,
    # else a crash between the writes loses the batch on replay
    fresh = incremental_dedup(spark, batch_df, fingerprint_dir, append_fingerprints=False)
    kept = fresh
    band_keys = None
    if neardup_state_dir is not None:
        fresh_docs = fresh.select("doc_id", "text_hash").join(batch_df, "doc_id")
        kept_nd, band_keys = neardup_gate(spark, fresh_docs, neardup_state_dir)
        kept = kept_nd.select("doc_id", "text_hash", "text")
    if benchmark_fps_dir is not None:
        bench = spark.read.parquet(benchmark_fps_dir).select("text_hash")
        kept = kept.join(F.broadcast(bench), "text_hash", "left_anti")
    # restore the non-text columns dropped by the dedup projection
    docs = kept.select("doc_id", "text_hash").join(batch_df, "doc_id")
    scored = textops.quality_scores_df(docs).select("doc_id", "quality")
    curated = (
        docs.join(scored, "doc_id")
        .filter(F.col("quality") >= q_min)
        .withColumn("split", F.expr(SPLIT_EXPR))
    )
    curated.write.mode("append").partitionBy("split").parquet(out_dir)
    if band_keys is not None:
        # ALL fresh docs' band keys (seen, not kept) — near-dups of a
        # suppressed doc must stay suppressed in future batches. This
        # append comes BEFORE the fingerprint append: fingerprints are
        # the replay gate (a replayed batch anti-joins to empty), so
        # anything written after them is never re-derived on replay —
        # a crash in that window would lose the band keys forever.
        # Writes before the gate are merely redone on replay, and both
        # the curated reader (dropDuplicates on doc_id) and the
        # band-key state (a membership set) absorb duplicates.
        band_keys.write.mode("append").parquet(neardup_state_dir)
    # curated rows + near-dup state are durable — now record the
    # batch's fingerprints (ALL fresh docs, including quality-rejected
    # and benchmark-contaminated ones: dedup state tracks seen text,
    # not kept text)
    fresh.select("text_hash", "doc_id").write.mode("append").parquet(fingerprint_dir)


def run_corpus_curation(
    docs: DataFrame,
    checkpoint_dir: str,
    fingerprint_dir: str,
    out_dir: str,
    q_min: float = 0.45,
    benchmark_fps_dir: str | None = None,
    neardup_state_dir: str | None = None,
) -> None:
    """Drain the landing backlog through the curation pipeline with
    ``events_stream.drain`` — the production trigger would be
    processingTime, like the event poll."""
    drain(
        docs.writeStream.outputMode("append").foreachBatch(
            lambda df, _id: curate_batch(
                df, fingerprint_dir, out_dir, q_min, benchmark_fps_dir,
                neardup_state_dir,
            )
        ),
        checkpoint_dir,
    )


def read_curated(
    spark: SparkSession, out_dir: str, tombstone_dir: str | None = None
) -> DataFrame:
    """Exactly-once view over the at-least-once curated store: a crash
    between the curated append and the fingerprint append replays one
    batch as duplicate rows (see the module docstring's write-ordering
    contract), so readers that need exact-once rows dedup on doc_id
    here. The window is one shuffle over the curated store — but
    split-partition pruning applies first, and in steady state (no
    crash) every group has exactly one row.

    ``tombstone_dir``: optional forget-table (see :func:`forget_docs`)
    — tombstoned doc_ids are anti-joined away, so a takedown is
    effective at READ time the moment the tombstone lands, independent
    of when the physical rewrite (:func:`purge_forgotten`) runs.
    Takedown sets are tiny relative to the corpus → broadcast."""
    cur = spark.read.parquet(out_dir).dropDuplicates(["doc_id"])
    if tombstone_dir is not None and os.path.isdir(tombstone_dir):
        # existence check, NOT try/except: a takedown filter that is
        # silently skipped on a transient read error would serve
        # tombstoned documents while looking like success — once the
        # tombstone table exists, any failure to read it must propagate
        tombs = spark.read.parquet(tombstone_dir).select("doc_id")
        cur = cur.join(F.broadcast(tombs.dropDuplicates(["doc_id"])), "doc_id", "left_anti")
    return cur


def forget_docs(spark: SparkSession, tombstone_dir: str, doc_ids) -> None:
    """Right-to-be-forgotten / takedown, step 1 of 2 — LOGICAL delete:
    durably append the doc_ids to an append-only tombstone table.
    Append-only is the crash-safe shape (same argument as the HLL
    register log, sketch_stream.py): re-appending the same ids is
    idempotent under the read-side anti-join. From this moment every
    ``read_curated(..., tombstone_dir=...)`` reader excludes the docs;
    no rewrite of the 100 TB store is on the takedown's critical path."""
    df = (
        doc_ids
        if isinstance(doc_ids, DataFrame)
        else spark.createDataFrame([(int(i),) for i in doc_ids], "doc_id bigint")
    )
    df.select("doc_id").write.mode("append").parquet(tombstone_dir)


def purge_forgotten(spark: SparkSession, out_dir: str, tombstone_dir: str) -> dict:
    """Takedown step 2 of 2 — PHYSICAL delete, run as maintenance (not
    on the takedown critical path): rewrite ONLY the parquet files that
    contain tombstoned rows, identified via input_file_name() — the
    poor-engine's delete-vector path on plain parquet. At 100 TB a
    takedown touches a handful of files; everything else is untouched
    bytes.

    Crash ordering mirrors the curated append: cleaned survivor rows
    are APPENDED first, originals removed after. A crash between the
    two leaves survivors duplicated (absorbed by read_curated's doc_id
    dedup) and the tombstoned rows still present in the originals
    (absorbed by the read-side anti-join) — every crash point converges
    on re-run. Returns {files_rewritten, rows_dropped}."""
    if not os.path.isdir(tombstone_dir):
        return {"files_rewritten": 0, "rows_dropped": 0}
    # existence-gated, not try/except: a real read error must propagate
    # rather than report a clean no-op purge (same rule as read_curated)
    tombs = spark.read.parquet(tombstone_dir).select("doc_id").dropDuplicates(["doc_id"])
    from urllib.parse import unquote, urlparse

    def _local(uri: str) -> str:
        # input_file_name() yields a percent-encoded file URI; both the
        # per-file re-read and os.remove need the decoded local path
        p = urlparse(uri)
        return unquote(p.path) if p.scheme else unquote(uri)

    cur = spark.read.parquet(out_dir)
    # file list containing tombstoned rows: bounded by the takedown
    # size, metadata-sized — the one acceptable driver collect
    affected = [
        _local(r["f"])
        for r in cur.withColumn("f", F.input_file_name())
        .join(F.broadcast(tombs), "doc_id")
        .select("f")
        .distinct()
        .collect()
    ]
    if not affected:
        return {"files_rewritten": 0, "rows_dropped": 0}
    # basePath keeps the split partition column on per-file reads
    victims = spark.read.option("basePath", out_dir).parquet(*affected)
    survivors = victims.join(F.broadcast(tombs), "doc_id", "left_anti")
    n_before = victims.count()
    n_after = survivors.count()
    # parquet reads drop the split partition column from file paths only
    # when reading whole-store; per-file reads keep columns as stored —
    # append survivors back under their split directories
    for split in [r["split"] for r in victims.select("split").distinct().collect()]:
        survivors.filter(F.col("split") == split).drop("split").write.mode("append").parquet(
            os.path.join(out_dir, f"split={split}")
        )
    for f in affected:
        os.remove(f)
    return {"files_rewritten": len(affected), "rows_dropped": n_before - n_after}
