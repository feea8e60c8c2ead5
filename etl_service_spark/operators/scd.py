"""Slowly-changing-dimension Type-2 merge.

The reference copies dimensions wholesale (D1/D2) and leaves history
to the target warehouse; the Spark-native engine keeps the history
itself: ``scd2_merge`` folds a new attribute snapshot into a
versioned dimension table — close the open row of every key whose
tracked attributes changed, insert the new version, keep everything
else byte-stable.

Scale shape: ONE full-outer hash join between the open slice and the
snapshot on the business key (both sides shuffle once on that key;
the closed-history slice is untouched and appended verbatim —
history cost is O(1) per batch, not O(history)). Pair the output
with ``write_copy_idempotent`` partitioned on ``valid_from`` so a
replayed batch overwrites only its own version-partition (update
unit = recovery unit, as everywhere else in this repo).

The registry query ``dim_scd2_merge`` derives a deterministic
"snapshot" from the customer table (every 7th key gets a changed
balance), so the whole merge has a value-level DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    batch_ts: str,
) -> DataFrame:
    """Fold ``updates`` (key + tracked attrs, one row per key) into the
    SCD2 table ``current`` (key + tracked + valid_from, valid_to).

    Rows with ``valid_to IS NULL`` are open. A key absent from the
    snapshot stays open (partial snapshots are the norm); a new key
    inserts its first version; a changed key closes at ``batch_ts``
    and re-opens with the new values."""
    closed_history = current.filter(F.col("valid_to").isNotNull())
    open_rows = current.filter(F.col("valid_to").isNull())

    # explicit presence marker: testing a VALUE column for NULL would
    # misclassify an update row whose first tracked attribute is NULL
    # as absent from the snapshot (its change silently lost, or a new
    # key dropped entirely)
    u = updates.select(
        F.col(key),
        *[F.col(c).alias(f"__u_{c}") for c in tracked],
        F.lit(True).alias("__u_present"),
    )
    # pinned: the full-outer join feeds THREE consumers (untouched /
    # closed / opened) and Spark re-plans the join — and both input
    # scans — once per reference (observed: 6 customer scans in the
    # dim_scd2_merge plan, 16 in dim_scd2_invariants which consumes
    # the merge three more times). One eager checkpoint runs the join
    # exactly once; the three branches are then narrow filters over
    # the materialized working set. Safe under foreachBatch: the
    # streaming twin hands this function plain batch DataFrames.
    j = open_rows.join(u, key, "full_outer").localCheckpoint()

    changed = None
    for c in tracked:
        diff = ~F.col(c).eqNullSafe(F.col(f"__u_{c}"))
        changed = diff if changed is None else (changed | diff)
    in_update = F.col("__u_present").isNotNull()
    in_open = F.col("valid_from").isNotNull()

    untouched = j.filter(in_open & (~in_update | ~changed)).select(
        key, *tracked, "valid_from", "valid_to"
    )
    closed = (
        j.filter(in_open & in_update & changed)
        .select(key, *tracked, "valid_from")
        .withColumn("valid_to", F.lit(batch_ts))
    )
    opened = (
        j.filter(in_update & (~in_open | changed))
        .select(key, *[F.col(f"__u_{c}").alias(c) for c in tracked])
        .withColumn("valid_from", F.lit(batch_ts))
        .withColumn("valid_to", F.lit(None).cast("string"))
    )
    return closed_history.unionByName(untouched).unionByName(closed).unionByName(
        opened
    )


# --------------------------------------------------- registry instance
V0, V1 = "2025-01-01", "2025-06-01"


def scd2_customers(spark) -> DataFrame:
    """Deterministic instance: v0 dimension = customers at V0 (balance
    in exact cents); snapshot = every 7th key with balance +100.00 and
    5 brand-new keys. The merge must close/reopen exactly the %7 keys
    and insert the new ones."""
    cust = spark.table("customer").select(
        F.col("c_custkey").alias("custkey"),
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").alias("acctbal_cents"),
    )
    current = cust.withColumn("valid_from", F.lit(V0)).withColumn(
        "valid_to", F.lit(None).cast("string")
    )
    updates = cust.withColumn(
        "acctbal_cents",
        F.when(F.col("custkey") % 7 == 0, F.col("acctbal_cents") + 10000).otherwise(
            F.col("acctbal_cents")
        ),
    ).unionByName(
        spark.range(5).select(
            (F.col("id") + 90_000_000).alias("custkey"),
            F.lit(0).cast("bigint").alias("acctbal_cents"),
        )
    )
    return scd2_merge(current, updates, "custkey", ["acctbal_cents"], V1)


def scd2_oracle_sql() -> str:
    """Single-statement DuckDB twin of :func:`scd2_customers`."""
    return f"""
WITH cust AS (
  SELECT c_custkey AS custkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents
  FROM customer
),
updates AS (
  SELECT custkey,
         CASE WHEN custkey % 7 = 0 THEN acctbal_cents + 10000
              ELSE acctbal_cents END AS acctbal_cents
  FROM cust
  UNION ALL
  SELECT 90000000 + i, CAST(0 AS BIGINT)
  FROM (SELECT unnest(range(5)) AS i)
),
changed AS (SELECT custkey FROM cust WHERE custkey % 7 = 0)
SELECT c.custkey, c.acctbal_cents, '{V0}' AS valid_from,
       CASE WHEN ch.custkey IS NULL THEN NULL ELSE '{V1}' END AS valid_to
FROM cust c LEFT JOIN changed ch ON c.custkey = ch.custkey
UNION ALL
SELECT u.custkey, u.acctbal_cents, '{V1}', NULL
FROM updates u
WHERE u.custkey % 7 = 0 OR u.custkey >= 90000000
"""


# --------------------------------------------------- invariant audit
CORRUPT_TS = "2025-03-01"  # control row's valid_from (strictly inside [V0, V1))

# The audit body over one SCD2 relation, CTE-free so two instances
# compose under UNION ALL (Spark and DuckDB both restrict WITH inside
# set-operation branches). Per key, rows ordered by (valid_from, open
# rows last via the 9999 sentinel); LAG carries the previous row's
# close timestamp, with the sentinel marking "previous row was open" —
# any successor of an open row overlaps by definition.
SCD2_AUDIT_BODY = """
SELECT '{label}' AS relation,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN n_open > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_multi_open_keys,
       CAST(SUM(CASE WHEN n_open = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_closed_out_keys,
       CAST(SUM(n_overlap) AS BIGINT) AS n_overlap_pairs,
       CAST(SUM(n_gap) AS BIGINT) AS n_gap_pairs,
       CAST(SUM(n_inverted) AS BIGINT) AS n_inverted_rows
FROM (
  SELECT custkey,
         COUNT(*) AS n_rows,
         SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS n_open,
         SUM(CASE WHEN valid_to IS NOT NULL AND valid_to <= valid_from
                  THEN 1 ELSE 0 END) AS n_inverted,
         SUM(CASE WHEN prev_to IS NOT NULL AND prev_to > valid_from
                  THEN 1 ELSE 0 END) AS n_overlap,
         SUM(CASE WHEN prev_to IS NOT NULL AND prev_to < valid_from
                  THEN 1 ELSE 0 END) AS n_gap
  FROM (
    SELECT custkey, valid_from, valid_to,
           LAG(COALESCE(valid_to, '9999-12-31')) OVER (
             PARTITION BY custkey
             ORDER BY valid_from, COALESCE(valid_to, '9999-12-31')
           ) AS prev_to
    FROM {rel}
  ) o
  GROUP BY custkey
) pk
"""


def scd2_invariants(spark) -> DataFrame:
    """SCD2 history-consistency audit — the data-quality contract a
    versioned dimension must keep for point-in-time lookups to be
    well-defined: exactly one open version per key, no overlapping
    [valid_from, valid_to) windows, no gaps between consecutive
    versions, no inverted windows. Audited on the REAL merge output
    AND on a deliberately corrupted control twin (every %13 key gets a
    second open row dated inside the first window), so a nonzero
    overlap/multi-open count on 'control' proves the detector fires —
    the dq_referential_integrity control-edge discipline.

    Scale shape: the per-key window is hash-partitioned on the
    business key (versions-per-key is bounded by change frequency),
    then two key-grain aggregates — no single-partition stage."""
    # per-call checkpoint (not a cross-call memo): the merge output
    # feeds three consumers here (merged audit, the corrupt filter,
    # the control union) and would re-run once per reference
    merged = scd2_customers(spark).localCheckpoint()
    corrupt = (
        merged.filter((F.col("custkey") % 13 == 0) & F.col("valid_to").isNull())
        .withColumn("valid_from", F.lit(CORRUPT_TS))
    )
    # relations bind as formatter arguments (session-unique views
    # dropped after analysis), so concurrent calls cannot clobber each
    # other's input through a fixed catalog name
    return spark.sql(
        SCD2_AUDIT_BODY.format(rel="{m}", label="merged")
        + "\nUNION ALL\n"
        + SCD2_AUDIT_BODY.format(rel="{c}", label="control"),
        m=merged,
        c=merged.unionByName(corrupt),
    )


def scd2_invariants_oracle_sql() -> str:
    """DuckDB twin: merge oracle + the same control corruption, each
    run through the shared audit body."""
    return f"""
WITH merged AS ({scd2_oracle_sql()}),
control AS (
  SELECT * FROM merged
  UNION ALL
  SELECT custkey, acctbal_cents, '{CORRUPT_TS}' AS valid_from,
         NULL AS valid_to
  FROM merged WHERE custkey % 13 = 0 AND valid_to IS NULL
)
{SCD2_AUDIT_BODY.format(rel="merged", label="merged")}
UNION ALL
{SCD2_AUDIT_BODY.format(rel="control", label="control")}
"""


def scd2_pit_lookup(spark) -> DataFrame:
    """Point-in-time dimension lookup — the query SCD2 history exists
    FOR: join each fact row to the dimension version in effect at its
    event time (valid_from <= t < valid_to, open version = NULL
    valid_to). Facts = orders probing two dates that straddle the
    scd2_customers merge boundary, so March probes must resolve to the
    ORIGINAL balance of the %7-changed keys (their later version is
    invisible at that time) and September probes to the updated one.

    Scale shape: the join is EQUI on the dimension key — the range
    predicate is a residual filter over that key's few versions, never
    a pair blowup (versions-per-key is bounded by change frequency, not
    corpus size). Output is aggregated per (probe_date, version) so the
    oracle is a full value check. Reference parity: the reference's
    destructive truncate-and-fill loads (CommandExecuter.cs) have no
    history to probe; this is the standard warehouse companion of D1's
    dimension copy."""
    dim = scd2_customers(spark)
    probes = spark.table("orders").select(
        F.col("o_custkey").alias("custkey"),
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("2025-03-01"))
        .otherwise(F.lit("2025-09-01"))
        .alias("probe_date"),
    )
    j = probes.join(dim, "custkey").filter(
        (F.col("valid_from") <= F.col("probe_date"))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("probe_date")))
    )
    return j.groupBy("probe_date", "valid_from").agg(
        F.count("*").alias("n_lookups"),
        F.sum("acctbal_cents").alias("sum_cents"),
    )


def scd2_pit_oracle_sql() -> str:
    """DuckDB twin: the scd2 merge oracle as a nested-WITH subquery +
    the same equi-join with residual range predicate."""
    return f"""
WITH dim AS ({scd2_oracle_sql()}),
probes AS (
  SELECT o_custkey AS custkey,
         CASE WHEN o_orderkey % 2 = 0 THEN '2025-03-01'
              ELSE '2025-09-01' END AS probe_date
  FROM orders
)
SELECT p.probe_date, d.valid_from,
       COUNT(*) AS n_lookups,
       CAST(SUM(d.acctbal_cents) AS BIGINT) AS sum_cents
FROM probes p JOIN dim d ON d.custkey = p.custkey
WHERE d.valid_from <= p.probe_date
  AND (d.valid_to IS NULL OR d.valid_to > p.probe_date)
GROUP BY p.probe_date, d.valid_from
"""
