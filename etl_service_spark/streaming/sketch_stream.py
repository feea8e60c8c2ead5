"""Streaming sketch maintenance: keep an HLL register table fresh from
the event stream.

The point of a mergeable sketch (operators/sketch.py hll_distinct_sql)
is exactly this: each micro-batch's registers merge into the persisted
table with union + MAX — associative, commutative, idempotent — so the
maintained table equals the batch recomputation over all data ever
seen, regardless of how the stream was chopped into batches or whether
a batch was replayed (at-least-once upstream is safe: MAX absorbs
duplicates). This is the streaming half of the sketch plane the way
run_upsert_aggregate is the streaming half of the windowed-agg plane;
a training-ingest pipeline uses it to watch corpus cardinality drift
without ever rescanning history.

State is the register parquet itself (64 rows per event_type — tiny at
any scale), not the state store: restarts and parallel readers are
free, and the estimate query is one scan of the register table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.sketch import _HLL_M, _hll_frags, cms_bucket
from .events_stream import drain


def hll_registers(events: DataFrame) -> DataFrame:
    """(event_type, reg, mx) register relation of a batch of events:
    the hash and the register rank are the Spark halves of
    ``sketch._hll_frags()``, the batch sketch's own definitions."""
    frags = _hll_frags()
    return (
        events.selectExpr("event_type", f"{frags['hll_hash']} AS hv")
        .selectExpr("event_type", "hv % 64 AS reg", f"{frags['hll_rnk'][0]} AS rnk")
        .groupBy("event_type", "reg")
        .agg(F.max("rnk").alias("mx"))
    )


def hll_estimates(registers: DataFrame) -> DataFrame:
    """Register table -> per-type estimate (m=64, scale 2^27 and the
    alpha numerator ``num`` from ``sketch._hll_frags()``), WITH the
    standard small-range linear-counting correction (raw HLL is badly
    biased below ~2.5m): when zero registers remain, estimate
    m·ln(m/zeros) instead. The batch registry query stays raw because
    ln() is not correctly-rounded identically across engines and that
    query is value-checked against DuckDB; this streaming path is
    Spark-only, so the accuracy-correct form is the right one."""
    m = _HLL_M
    return (
        registers.groupBy("event_type")
        .agg(
            F.expr("CAST(SUM(shiftleft(CAST(1 AS BIGINT), 27 - mx)) AS BIGINT)").alias("s_present"),
            F.count("*").alias("n_regs"),
        )
        .selectExpr(
            "event_type",
            f"CAST(FLOOR({_hll_frags()['num']} / CAST(s_present + (64 - n_regs) * 134217728"
            " AS DOUBLE)) AS BIGINT) AS hll_raw",
            f"CAST(64 - n_regs AS BIGINT) AS n_zero_regs",
        )
        .selectExpr(
            "event_type",
            f"CASE WHEN hll_raw <= {int(2.5 * m)} AND n_zero_regs > 0"
            f" THEN CAST(FLOOR({m} * ln({m} / CAST(n_zero_regs AS DOUBLE))) AS BIGINT)"
            " ELSE hll_raw END AS n_distinct_hll",
        )
    )


def read_hll_registers(spark: SparkSession, table_dir: str) -> DataFrame:
    """Compact the append-only register log into the current register
    table: union + groupBy MAX is the sketch's merge operator, so the
    MAX over every appended batch IS the merged sketch. O(batches x
    event_types x 64) rows scanned — trivial at any corpus scale."""
    return (
        spark.read.parquet(table_dir)
        .groupBy("event_type", "reg")
        .agg(F.max("mx").alias("mx"))
    )


def run_hll_register_rollup(events: DataFrame, checkpoint_dir: str, table_dir: str) -> None:
    """Maintain the register table from a stream: per micro-batch,
    APPEND the batch's registers to an append-only log; readers compact
    with read_hll_registers (union + groupBy MAX). Append-only is the
    crash-safe shape: a delete-then-overwrite of the table would leave
    a window where a crash destroys the whole monotone register
    history and the replayed batch rebuilds only from its own events —
    the maintained table would then silently underestimate everything
    seen earlier. Parquet job commits are task-atomic (staged files
    move in at commit; readers ignore _temporary), so a crash mid-batch
    replays to at-most one duplicate batch of registers, which MAX
    absorbs (registers are monotone — the sketch is replay-idempotent)."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        hll_registers(batch_df).write.mode("append").parquet(table_dir)

    drain(events.writeStream.outputMode("append").foreachBatch(upsert), checkpoint_dir)


# ---- streaming count-min sketch (heavy-hitter grid) maintenance ----


def cms_grid(events: DataFrame, depth: int = 4, width: int = 1024) -> DataFrame:
    """(d, bucket, cnt) count-min grid of a batch of events — the
    fixed-size (d×w cells) MERGEABLE summary; merge operator is
    cell-wise SUM. The row hashes are ``sketch.cms_bucket``, the one
    the batch ``cms_heavy_hitters_sql`` uses."""
    bucket = cms_bucket(width, depth)
    depths = " UNION ALL ".join(f"SELECT {i} AS d" for i in range(depth))
    # the batch goes in as a formatter argument: spark.sql registers it
    # under a generated name for the analysis and drops it again, so
    # concurrent streams never share a view and none outlives the call
    return events.sparkSession.sql(
        f"""
SELECT d, {bucket} AS bucket, COUNT(*) AS cnt
FROM {{ev}} CROSS JOIN ({depths}) depths
WHERE user_id IS NOT NULL
GROUP BY d, {bucket}
""",
        ev=events,
    )


def run_cms_rollup(events: DataFrame, checkpoint_dir: str, table_dir: str) -> None:
    """Maintain the CMS grid from a stream. Unlike the HLL registers
    (MAX — idempotent, absorbs replays by itself), the CMS merge is
    SUM, which double-counts a replayed batch — so each appended grid
    carries its batch_id and the reader dedups per (batch_id, d,
    bucket) before summing: at-least-once appends compact to an
    exactly-once grid. The log is O(batches × d×w) rows of integers —
    compact it by rewriting SUM-merged cells under a single batch_id
    when it grows."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        cms_grid(batch_df).withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(table_dir)

    drain(events.writeStream.outputMode("append").foreachBatch(upsert), checkpoint_dir)


def read_cms_grid(spark: SparkSession, table_dir: str) -> DataFrame:
    """Compact the append-only grid log into the current sketch:
    dedup replayed batch cells (identical rows — any survivor is
    correct), then cell-wise SUM across batches. Raw batches already
    FOLDED by a compaction are dropped: a compacted grid encodes the
    highest batch_id it merged as -(folded_thru + 1), and a raw batch
    <= folded_thru can only be a post-compaction replay of a batch the
    fold already counted (the stream crashed between its grid append
    and its checkpoint commit, then maintenance compacted) — summing
    it again would double-count exactly that batch."""
    raw = spark.read.parquet(table_dir)
    folded = (
        raw.filter("batch_id < 0")
        .selectExpr("max(-batch_id - 1) AS m")
        .collect()[0]
        .m
    )
    if folded is not None:
        raw = raw.filter((F.col("batch_id") < 0) | (F.col("batch_id") > folded))
    return (
        raw.dropDuplicates(["batch_id", "d", "bucket"])
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def compact_cms_log(spark: SparkSession, table_dir: str) -> dict:
    """Rewrite the append-only CMS grid log as ONE SUM-merged grid
    under a synthetic batch_id that ENCODES the fold boundary:
    -(highest merged batch_id + 1). The merged grid is what
    read_cms_grid would compute anyway (dedup per batch then cell-wise
    SUM), so the compaction changes bytes, never estimates — and the
    encoded boundary lets the reader reject a replayed batch that the
    fold already absorbed (see read_cms_grid). The swap protocol and
    its crash-window analysis live in copy.compact_state_log."""
    from ..operators.copy import compact_state_log

    def merge(raw: DataFrame) -> DataFrame:
        folded = raw.selectExpr(
            "max(CASE WHEN batch_id >= 0 THEN batch_id"
            "    ELSE -batch_id - 1 END) AS m"
        ).collect()[0].m
        return (
            raw.dropDuplicates(["batch_id", "d", "bucket"])
            .groupBy("d", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .withColumn("batch_id", F.lit(-(int(folded) + 1)))
            .select("batch_id", "d", "bucket", "cnt")
        )

    return compact_state_log(spark, table_dir, merge)
