"""Streaming IVF index maintenance: vector arrivals folded into the
persisted assignment table per micro-batch.

The batch twin is operators/similarity.ivf_index_append_batch — each
micro-batch assigns ONLY its own vectors against the persisted centroid
snapshot (k*64 rows, broadcast) and MERGEs into the assignment table
keyed on vec_id. Assignment is deterministic (integer-exact distance
argmin), so a crash-and-replay merges value-identical rows: convergent
state under at-least-once delivery, the same contract as merge_stream.

Scale shape: per-tick cost is O(batch) — one map-side quantized
explode, one broadcast distance aggregate, one file-pruned MERGE whose
touched-file set tracks the batch's vec_id range, never the corpus.
The index itself (the centroid snapshot) is only rewritten by an
explicit re-train (ivf_index_build), which the churn gauge
(ann_ivf_incremental's drift report) tells the operator to schedule.

Reference anchor: the reference has no ANN surface; this extends the
incremental COPY discipline (CommandExecuter.cs:322-544) to index
maintenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .events_stream import drain

VECTOR_SCHEMA = "vec_id bigint, embedding array<float>"


def read_vector_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-drop source of (vec_id, embedding) parquet batches."""
    return (
        spark.readStream.schema(VECTOR_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )


def run_ivf_assign_stream(
    vectors: DataFrame,
    index_dir: str,
    assign_dir: str,
    checkpoint_dir: str,
    big_t: str | None = None,
) -> None:
    """Drain all available vector files through the maintenance fold
    with ``events_stream.drain`` (the availableNow drain every sink
    here runs)."""
    from ..operators import similarity

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        similarity.ivf_index_append_batch(
            batch_df.sparkSession, index_dir, assign_dir, batch_df, big_t
        )

    drain(vectors.writeStream.foreachBatch(fold), checkpoint_dir)
