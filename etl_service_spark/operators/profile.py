"""Table profiling: per-column statistics in one pass over the data.

The data-quality entry gate of a training pipeline (and the engine-side
twin of the reference's pre-copy row-count audit, CommandExecuter.cs
ErwarteteDaten counting): before a 100 TB table enters a pipeline you
want row counts, null rates, cardinalities, and numeric ranges per
column — cheaply and in ONE scan family, not one query per column.

Shape: one aggregate per column UNION ALL'd into a (column, stats)
relation. Catalyst collapses each branch to a partial+final agg over
the same scan; with column pruning each branch reads exactly its own
column. COUNT(DISTINCT) is the only per-branch shuffle and it is
keyed on the profiled column itself, so skew is bounded by the
column's own cardinality. The SQL is engine-shared (COUNT/MIN/MAX and
exact-compare DISTINCT on stored values only — no arithmetic), so the
same string runs on Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def profile_sql(view: str, numeric_cols: list[str], other_cols: list[str]) -> str:
    """One profiling statement for ``view``: a UNION ALL of per-column
    aggregate branches with the shared schema
    (col, n_rows, n_null, n_distinct, min_num, max_num).

    Numeric columns surface their range as DOUBLE; non-numeric columns
    leave the range NULL (stringified min/max would hit engine float-
    formatting differences — DETERMINISM.md forbids double→string).
    """
    branches = []
    for c in numeric_cols:
        branches.append(
            f"SELECT '{c}' AS col, COUNT(*) AS n_rows,"
            f" COUNT(*) - COUNT({c}) AS n_null,"
            f" COUNT(DISTINCT {c}) AS n_distinct,"
            f" CAST(MIN({c}) AS DOUBLE) AS min_num,"
            f" CAST(MAX({c}) AS DOUBLE) AS max_num FROM {view}"
        )
    for c in other_cols:
        branches.append(
            f"SELECT '{c}' AS col, COUNT(*) AS n_rows,"
            f" COUNT(*) - COUNT({c}) AS n_null,"
            f" COUNT(DISTINCT {c}) AS n_distinct,"
            f" CAST(NULL AS DOUBLE) AS min_num,"
            f" CAST(NULL AS DOUBLE) AS max_num FROM {view}"
        )
    return "\nUNION ALL\n".join(branches)


# ------------------------------------------------------- PII scrubbing
# Detection/masking patterns chosen to parse identically under Java
# regex (Spark) and RE2 (DuckDB oracle): character classes + bounded
# repetition only — no lookarounds, no backreferences.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # international-ish phone: leading digit or +, then 7+ of digits,
    # space, parens, dash; ends in a digit
    "phone": r"\+?[0-9][0-9()\- ]{6,}[0-9]",
    # IPv4 (loose on octet range: scrubbing favors recall)
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def scrub_pii(df, text_col: str = "text", patterns: dict[str, str] | None = None):
    """Mask PII spans in ``text_col`` and count what was masked — the
    de-identification pass every training-data pipeline runs before
    publishing a corpus (reference parity: none — the reference's
    privacy surface is row-level pseudonymization; span-level scrubbing
    is part of the LLM-pipeline plane).

    Each pattern is replaced by ``<TYPE>`` (e.g. ``<EMAIL>``) via
    JVM-side regexp_replace — whole-stage codegen, no Python in the
    loop — and per-type match counts ride along for audit. Counts are
    taken on the PROGRESSIVELY-masked text (the same sequence the
    masking applies), so n_<type> counts exactly the spans masked as
    <TYPE>: counting on the original would overstate a later pattern
    wherever an earlier one already consumed the span (a phone number
    inside an email local-part is masked as <EMAIL>, not <PHONE>).
    One map-side projection: no shuffle, no second scan; at 100 TB
    this is embarrassingly parallel over document partitions.
    """
    from pyspark.sql import functions as F

    pats = patterns or PII_PATTERNS
    out = df
    masked = F.col(text_col)
    for name, pat in pats.items():
        out = out.withColumn(f"n_{name}", F.regexp_count(masked, F.lit(pat)))
        masked = F.regexp_replace(masked, pat, f"<{name.upper()}>")
    return out.withColumn("text_scrubbed", masked)


def key_skew_report_sql(
    key: str = "user_id", top_n: int = 10, view: str = "events"
) -> str:
    """Shuffle-key skew report — the diagnostic that decides whether a
    join/aggregate on ``key`` needs salting BEFORE the job runs at
    100 TB (SCALE.md's salting rule is gated on exactly these numbers).
    One row: key count, row count, max/percentile per-key weights, the
    top-N keys' share of all rows, and max-vs-mean in ppm (the skew
    factor AQE's skew-join threshold compares against).

    Exact percentiles by rank selection over the per-key count
    relation (cnt ASC, key ASC is a total order → deterministic), all
    integer arithmetic. The per-key relation is |keys| rows — reduced,
    but NOT bounded (billions of keys at 100 TB), so the unpartitioned
    rank window here plans as Exchange SinglePartition: this form is
    the DuckDB ORACLE only, and the Spark side runs key_skew_staged
    (scan.global_rank two-phase rank — round-9 audit finding, the
    same class as the round-8 verdict's six).
    """
    template = f"""
WITH c AS (
  SELECT {key} AS k, COUNT(*) AS cnt FROM {view} GROUP BY {key}
),
o AS (
  SELECT cnt,
         ROW_NUMBER() OVER (ORDER BY cnt ASC, k ASC) AS rk,
         COUNT(*) OVER () AS n_keys,
         SUM(cnt) OVER () AS n_rows
  FROM c
)
SELECT
  MAX(n_keys) AS n_keys,
  CAST(MAX(n_rows) AS BIGINT) AS n_rows,
  MAX(cnt) AS max_cnt,
  MAX(CASE WHEN rk = (n_keys * 50 + 99) {{idiv}} 100 THEN cnt END) AS p50_cnt,
  MAX(CASE WHEN rk = (n_keys * 90 + 99) {{idiv}} 100 THEN cnt END) AS p90_cnt,
  MAX(CASE WHEN rk = (n_keys * 99 + 99) {{idiv}} 100 THEN cnt END) AS p99_cnt,
  CAST(SUM(CASE WHEN rk > n_keys - {top_n} THEN cnt ELSE 0 END) * 1000000
       {{idiv}} MAX(n_rows) AS BIGINT) AS top{top_n}_share_ppm,
  CAST(CAST(MAX(cnt) AS {{big_t}}) * MAX(n_keys) * 1000000
       {{idiv}} MAX(n_rows) AS BIGINT) AS max_over_mean_ppm
FROM o
"""
    from etl_service_spark.functions import portable as P

    # max_cnt * n_keys * 1e6 passes 2^63 on a large corpus: DuckDB
    # would convert an over-wide DECIMAL product to (lossy) DOUBLE, so
    # the oracle multiplies in HUGEINT.
    return P.duck_sql(template, idiv="//", big_t="HUGEINT")


def key_skew_staged(
    spark: SparkSession,
    key: str = "user_id",
    top_n: int = 10,
    view: str = "events",
) -> DataFrame:
    """The Spark execution path of key_skew_report_sql: identical
    output (same rank-selection percentiles under (cnt ASC, key ASC)),
    but the global rank comes from scan.global_rank — range-partitioned
    two-phase scan over the per-key count relation — instead of an
    unpartitioned window, so no single task ever sorts |keys| rows.
    The corpus totals ride a broadcast 1-row aggregate."""
    from . import scan

    per_key = (
        spark.table(view)
        .select(F.col(key).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = scan.global_rank(per_key, [("cnt", True), ("k", True)], out="rk")
    tot = per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
    )
    o = ranked.crossJoin(F.broadcast(tot))
    return o.agg(
        F.expr("MAX(n_keys) AS n_keys"),
        F.expr("CAST(MAX(n_rows) AS BIGINT) AS n_rows"),
        F.expr("MAX(cnt) AS max_cnt"),
        F.expr("MAX(CASE WHEN rk = (n_keys * 50 + 99) DIV 100 THEN cnt END) AS p50_cnt"),
        F.expr("MAX(CASE WHEN rk = (n_keys * 90 + 99) DIV 100 THEN cnt END) AS p90_cnt"),
        F.expr("MAX(CASE WHEN rk = (n_keys * 99 + 99) DIV 100 THEN cnt END) AS p99_cnt"),
        F.expr(
            f"CAST(SUM(CASE WHEN rk > n_keys - {top_n} THEN cnt ELSE 0 END) * 1000000"
            f" DIV MAX(n_rows) AS BIGINT) AS top{top_n}_share_ppm"
        ),
        F.expr(
            "CAST(CAST(MAX(cnt) AS DECIMAL(38,0)) * MAX(n_keys) * 1000000"
            " DIV MAX(n_rows) AS BIGINT) AS max_over_mean_ppm"
        ),
    )


def join_size_estimate_sql(
    left_view: str = "orders",
    left_key: str = "o_custkey",
    right_view: str = "customer",
    right_key: str = "c_custkey",
    self_view: str = "events",
    self_key: str = "user_id",
) -> tuple[str, str]:
    """Pre-flight join-cardinality estimate — the planner gauge run
    BEFORE committing a 100 TB join: for an equi-join the exact output
    size is SUM over keys of |L(k)|·|R(k)|, computable from two cheap
    per-key count aggregates without executing the join. The report
    covers both shapes that matter: a dim-fact join (orders⨝customer)
    and the quadratic-risk self-join (events⨝events on user_id — the
    sessionize/asof candidate-pair mass), with the max single key's
    contribution and its ppm share, i.e. the number AQE's skew-join
    split threshold is implicitly estimating.

    All-integer. Scale shape: two map-side-combined per-key counts,
    one (broadcast-sized, |keys|-row) join between them, one global
    aggregate; the fact table is scanned once, key column only.
    """
    template = f"""
WITH l AS (SELECT {left_key} AS k, COUNT(*) AS c FROM {left_view} GROUP BY {left_key}),
r AS (SELECT {right_key} AS k, COUNT(*) AS c FROM {right_view} GROUP BY {right_key}),
fk AS (
  SELECT COUNT(*) AS n_keys,
         CAST(SUM(CAST(l.c AS {{big_t}}) * r.c) AS BIGINT) AS est_rows,
         CAST(MAX(CAST(l.c AS {{big_t}}) * r.c) AS BIGINT) AS max_key_rows
  FROM l JOIN r ON l.k = r.k
),
s AS (SELECT {self_key} AS k, COUNT(*) AS c FROM {self_view} GROUP BY {self_key}),
sj AS (
  SELECT COUNT(*) AS n_keys,
         CAST(SUM(CAST(c AS {{big_t}}) * c) AS BIGINT) AS est_rows,
         CAST(MAX(CAST(c AS {{big_t}}) * c) AS BIGINT) AS max_key_rows
  FROM s
)
SELECT '{left_view}_x_{right_view}' AS join_name, n_keys, est_rows, max_key_rows,
       CAST(max_key_rows * 1000000 {{idiv}} est_rows AS BIGINT) AS max_key_share_ppm
FROM fk
UNION ALL
SELECT '{self_view}_self' AS join_name, n_keys, est_rows, max_key_rows,
       CAST(max_key_rows * 1000000 {{idiv}} est_rows AS BIGINT) AS max_key_share_ppm
FROM sj
"""
    from etl_service_spark.functions import portable as P

    # per-key count products can pass 2^63 on a 100 TB self-join:
    # accumulate wide (Spark decimal-38, DuckDB HUGEINT) and cast the
    # total down — both engines then fail loudly (not wrap) if the
    # estimate itself exceeds int64.
    return P.bi_sql(
        template, idiv=("DIV", "//"), big_t=("DECIMAL(38,0)", "HUGEINT")
    )


def range_boundaries_sql(
    buckets: int = 32, key: str = "user_id", uid: str = "event_id", view: str = "events"
) -> str:
    """Equi-depth range-partition boundary plan — what
    ``repartitionByRange``'s sampler approximates, computed exactly:
    NTILE over the total order (key, uid) yields ``buckets``
    equal-depth slices; the report gives each slice's key range and
    row count, i.e. the boundary list you'd feed a range partitioner
    (and the proof the depths are balanced). Deterministic: NTILE's
    remainder-to-first-buckets rule is identical in Spark and DuckDB
    given the same total order.

    This raw-row form plans the NTILE as Exchange SinglePartition over
    ALL event rows (round-8 verdict weak #2), so it serves as the
    DuckDB ORACLE only; the Spark side runs range_boundaries_staged —
    the per-key count form this docstring always named as the 100 TB
    shape, now implemented.
    """
    return f"""
WITH b AS (
  SELECT {key} AS k,
         NTILE({buckets}) OVER (ORDER BY {key} ASC, {uid} ASC) AS bucket
  FROM {view}
)
SELECT bucket, MIN(k) AS lo_key, MAX(k) AS hi_key, COUNT(*) AS n_rows
FROM b
GROUP BY bucket
"""


def range_boundaries_staged(
    spark: SparkSession,
    buckets: int = 32,
    key: str = "user_id",
    view: str = "events",
) -> DataFrame:
    """Equi-depth boundaries from the PER-KEY COUNT relation — exact
    NTILE semantics without sorting raw rows: under the total order
    (key, uid) every row of key k occupies the contiguous global-rank
    span (off_k, off_k + c_k], where off_k is the exclusive cumsum of
    counts over smaller keys (scan.global_ordered_cumsum — the
    two-phase range-partitioned scan, |keys| rows, never event grain).
    A key therefore overlaps exactly the NTILE buckets of its span
    endpoints (scan.ntile_case_sql arithmetic); exploding that
    (b_lo..b_hi) span — ≤ |keys| + buckets rows total — and grouping
    by bucket yields each bucket's key range, while its depth is the
    closed-form NTILE remainder rule, independent of any row data.
    Identical output to the raw-row NTILE oracle because bucket
    min/max/depth never depend on uid order WITHIN a key.
    """
    from . import scan

    per_key = (
        spark.table(view)
        .select(F.col(key).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("c"))
    )
    cum = scan.global_ordered_cumsum(per_key, [("k", True)], "c")
    tot = per_key.agg(F.sum("c").cast("long").alias("_n"))
    spans = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn(
            "_b_lo", F.expr(scan.ntile_case_sql("(cum - c + 1)", "_n", buckets))
        )
        .withColumn("_b_hi", F.expr(scan.ntile_case_sql("cum", "_n", buckets)))
    )
    exploded = spans.select(
        "k", "_n", F.explode(F.sequence("_b_lo", "_b_hi")).alias("bucket")
    )
    q = f"(_n DIV {buckets})"
    rem = f"(_n % {buckets})"
    return (
        exploded.groupBy("bucket")
        .agg(
            F.min("k").alias("lo_key"),
            F.max("k").alias("hi_key"),
            F.max("_n").alias("_n"),
        )
        .withColumn(
            "n_rows",
            F.expr(f"CASE WHEN bucket <= {rem} THEN {q} + 1 ELSE {q} END"),
        )
        .select("bucket", "lo_key", "hi_key", "n_rows")
    )


def group_cardinality_sql() -> tuple[str, str]:
    """Pre-flight GROUP BY cardinality gauge: the independence
    estimate (product of per-column NDVs) next to the ACTUAL distinct
    combination count, with the fill ratio in ppm — the number that
    says whether a cube/rollup explodes (dense cross product) or
    collapses (correlated keys) before the aggregation runs. Two
    grouping shapes: the orders (priority × month) report grain and
    the events (type × hour-of-day) rollup grain.

    All-integer. Scale shape: per grouping, one pass for the NDVs +
    one distinct-combination aggregate — both map-side combinable;
    output is two rows.
    """
    template = """
WITH o_nd AS (
  SELECT COUNT(DISTINCT o_orderpriority) AS nd_a,
         COUNT(DISTINCT {omonth}) AS nd_b
  FROM orders
),
o_act AS (
  SELECT COUNT(*) AS actual FROM (
    SELECT DISTINCT o_orderpriority, {omonth} AS b FROM orders
  ) t
),
e_nd AS (
  SELECT COUNT(DISTINCT event_type) AS nd_a,
         COUNT(DISTINCT {ehour}) AS nd_b
  FROM events
),
e_act AS (
  SELECT COUNT(*) AS actual FROM (
    SELECT DISTINCT event_type, {ehour} AS b FROM events
  ) t
)
SELECT 'orders_priority_month' AS grouping_name,
       nd_a * nd_b AS est_cells, actual AS actual_cells,
       CAST(actual * 1000000 {idiv} (nd_a * nd_b) AS BIGINT) AS fill_ppm
FROM o_nd CROSS JOIN o_act
UNION ALL
SELECT 'events_type_hour', nd_a * nd_b, actual,
       CAST(actual * 1000000 {idiv} (nd_a * nd_b) AS BIGINT)
FROM e_nd CROSS JOIN e_act
"""
    from etl_service_spark.functions import portable as P

    return P.bi_sql(
        template,
        idiv=("DIV", "//"),
        omonth="month(o_orderdate)",
        ehour=(
            "((ts_us DIV 3600000000) % 24)",
            "((epoch_us(ts) // 3600000000) % 24)",
        ),
    )
