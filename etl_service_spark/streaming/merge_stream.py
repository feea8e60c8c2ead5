"""Streaming keyed MERGE maintenance: an update stream folded into a
snapshot table via per-micro-batch FILE-PRUNED merge — the scalable
twin of dim_stream's full-snapshot SCD2 fold (whose publish cost is
O(full history) per batch; see dim_stream's known-limit note).

Composition of existing pieces, which is the point:

- ``snapshots.merge_upsert`` rewrites only the data files whose footer
  key range intersects the batch's keys — a trickle batch against a
  key-clustered table touches O(batch) files, and every untouched file
  is carried into the new manifest verbatim. Per-batch cost is
  O(batch + touched files), not O(table): the Delta/Iceberg streaming
  upsert shape.
- each micro-batch is first reduced to its LATEST row per key
  (ROW_NUMBER over ``order_col`` DESC, key as the deterministic
  tiebreak) — a micro-batch can legitimately carry several updates for
  one key, and ``merge_upsert`` enforces the MERGE precondition of at
  most one source row per key (round-4 guard).
- replay safety is semantic, like every foreachBatch sink here: a
  replayed batch merges rows the table already reflects, so the merged
  STATE is unchanged (a new, value-identical version is committed —
  at-least-once processing, convergent state); pinned by
  test_merge_stream_replay_is_idempotent.
- a concurrent writer between the batch's read and publish surfaces as
  ``snapshots.ConcurrentCommitError`` (optimistic concurrency) — the
  foreachBatch fold retries the whole merge against the fresh state,
  which is the documented redo contract.

Reference anchor: the reference's incremental COPY plane upserts via
staged TMP tables + DELETE/INSERT batches on a poll tick
(CommandExecuter.cs:322-544, Processor.cs:1138-1152); this is that
loop re-expressed as Structured Streaming over a versioned table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..sources import snapshots
from .events_stream import drain


def latest_per_key(batch_df: DataFrame, key: str, order_col: str) -> DataFrame:
    """Reduce a micro-batch to its newest row per key. The tie-break
    on equal order_col values is a deterministic hash of the FULL ROW
    — the partition key itself is constant within its window partition
    and would leave the winner to partition order, so a crash-and-
    replay could commit a value-different version. With the row hash,
    replays of the same batch contents pick identical winners. One
    window over the batch — batch-sized, not table-sized."""
    w = Window.partitionBy(key).orderBy(
        F.col(order_col).desc(),
        F.xxhash64(F.struct(*[F.col(c) for c in batch_df.columns])),
    )
    return (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )


def merge_batch(
    batch_df: DataFrame,
    table_dir: str,
    key: str,
    order_col: str,
    max_retries: int = 3,
) -> int | None:
    """Fold one batch into the snapshot table. Returns the committed
    version (None for an empty batch). Bootstraps the table from the
    first batch; retries the whole read-merge-publish on a concurrent
    writer's commit (the optimistic-concurrency redo contract)."""
    spark = batch_df.sparkSession
    latest = latest_per_key(batch_df, key, order_col)
    if not latest.take(1):
        return None
    for attempt in range(max_retries + 1):
        try:
            # bootstrap is inside the retry too: two writers racing an
            # EMPTY table both see no versions, and the loser's append
            # must re-read and merge, not kill the stream
            if not snapshots.list_versions(table_dir):
                return snapshots.commit_append(latest, table_dir)
            return snapshots.merge_upsert(spark, table_dir, latest, key)
        except snapshots.ConcurrentCommitError:
            if attempt == max_retries:
                raise
    return None  # unreachable


def run_merge_maintenance(
    updates: DataFrame,
    checkpoint_dir: str,
    table_dir: str,
    key: str,
    order_col: str,
) -> None:
    """Drain the update stream into the snapshot table, one file-pruned
    MERGE per micro-batch. Re-invoking with the same checkpoint
    processes only newly-arrived files (the poll-tick contract)."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch(batch_df, table_dir, key, order_col)

    drain(updates.writeStream.outputMode("append").foreachBatch(fold), checkpoint_dir)
