"""Corpus-management operators for a pretraining-data pipeline:
deterministic splits, stratified sampling, composition reporting and
contamination/duplication rollups over the ``documents`` table.

These are the bookkeeping half of the training-data plane (the
transform half lives in dedup.py / textops.py / similarity.py): given a
100 TB corpus you need reproducible train/val/test assignment, bounded
per-stratum samples, and per-source composition stats before any
training run. The reference engine has no corpus surface (it is a
config-driven DB-to-DB ETL service, code/DIZService.Core); this module
is part of the "beyond the reference" training-data scope.

Determinism stance: all randomness is a pure-integer LCG / Knuth
multiplicative hash over ``doc_id`` — identical arithmetic in Spark and
DuckDB, stable across runs, partitions, and engines. No rand()/
sample(): those are engine- and partitioning-dependent, which is
exactly what a reproducible data pipeline cannot tolerate (a re-run
after adding one file must not reshuffle every split assignment).

Scale shape: every operator here is a single scan + one hash
aggregation or window — no joins, no N^2. Splits/sampling are
embarrassingly parallel on doc_id; composition is a map-side-combined
groupBy on low-cardinality keys (source, lang); the window in the
stratified sample shuffles once on the stratum key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import portable as P

# Knuth multiplicative hash (2654435761 = 2^32 * golden ratio) then a
# final mod. doc_id stays < ~1e9 at any realistic SF, so the product
# stays < 2^62: no BIGINT overflow in either engine, and `%` on
# non-negative operands is identical in Spark and DuckDB.
_BUCKET = "((doc_id * 2654435761) % 4294967296) % {mod}"

# The 90/5/5 train/val/test assignment as one Spark SQL expression of
# doc_id — the contract the streaming curation and the corpus build
# runner both apply, so a document lands in the same split everywhere.
SPLIT_EXPR = (
    f"CASE WHEN {_BUCKET.format(mod=1000)} < 900 THEN 'train' "
    f"WHEN {_BUCKET.format(mod=1000)} < 950 THEN 'val' ELSE 'test' END"
)


def split_assign_sql(
    view: str = "documents",
    train_per_mille: int = 900,
    val_per_mille: int = 950,
) -> str:
    """Per-split corpus stats under a deterministic 90/5/5 assignment.

    The assignment is a pure function of doc_id: re-running the
    pipeline, re-partitioning the input, or switching engines cannot
    move a document between splits (the property that prevents
    train/test leakage across pipeline versions).
    """
    bucket = _BUCKET.format(mod=1000)
    return f"""
WITH assigned AS (
  SELECT doc_id, n_chars, {bucket} AS bucket FROM {view}
)
SELECT CASE WHEN bucket < {train_per_mille} THEN 'train'
            WHEN bucket < {val_per_mille} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM assigned
GROUP BY 1
"""


def stratified_sample_sql(view: str = "documents", k: int = 50) -> str:
    """At most k docs per language, chosen by deterministic hash rank.

    ROW_NUMBER over (stratum, hashed id) is the exact, reproducible
    form of per-stratum sampling: one shuffle on the stratum key, and
    the same k documents come back on every engine and every run.
    doc_id breaks hash ties, so the rank is total and the result
    row-stable.
    """
    bucket = _BUCKET.format(mod=4294967296)
    return f"""
WITH ranked AS (
  SELECT doc_id, lang, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {bucket}, doc_id) AS rk
  FROM {view}
)
SELECT lang, rk, doc_id, source, n_chars
FROM ranked
WHERE rk <= {k}
"""


def source_composition_sql(view: str = "documents") -> tuple[str, str]:
    """Corpus composition per (source, lang): the report you read
    before weighting/mixing sources for a training run. Integer counts
    plus a millionths share (exact integer arithmetic — FP-free, so the
    cross-engine hash match is trivial; integer division is the one
    dialect split: Spark ``DIV`` vs DuckDB ``//``)."""
    template = """
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       CAST((COUNT(*) * 1000000) {idiv} SUM(COUNT(*)) OVER () AS BIGINT) AS docs_ppm
FROM {view}
GROUP BY source, lang
"""
    return P.bi_sql(template, idiv=("DIV", "//"), view=view)


def dup_rate_by_source_sql(view: str = "documents") -> str:
    """Exact-duplicate pressure per source: how much of each source
    survives exact dedup. n_dups is integer-exact (no FP rate)."""
    return f"""
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT h) AS n_unique,
       COUNT(*) - COUNT(DISTINCT h) AS n_dups
FROM (SELECT source, {P.duck_poly_hash("lower(text)")} AS h FROM {view}) t
GROUP BY source
"""


def dup_rate_by_source_staged(spark: SparkSession, view: str = "documents") -> DataFrame:
    """Spark path: the full-text poly-hash comes from the SHARED
    staged fingerprint relation (dedup.materialize_texthash — one
    Arrow pass per session; the SQL formulation is an interpreted
    per-character lambda), then one groupBy with a distinct
    aggregate. Shuffles (source, hash) pairs only, never text."""
    from . import dedup

    return (
        spark.table(dedup.materialize_texthash(spark, view))
        .select("source", "h")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("h").alias("n_unique"),
            (F.count("*") - F.count_distinct("h")).alias("n_dups"),
        )
    )


def mixture_sample_sql(budget: int = 1000, view: str = "documents") -> tuple[str, str]:
    """Deterministic weighted source mixing: the step that turns a
    composition report plus target weights into an actual training
    sample. Each source gets an integer quota (budget x weight /
    total-weight, capped at the source's size), filled by the same
    hash-rank order as :func:`stratified_sample_sql` — so the chosen
    doc set is a pure function of (doc_id, source), reproducible across
    engines and re-runs, and adding documents to one source never
    reshuffles another source's picks.

    Weights here are a deterministic function of the source name
    (even-indexed sources 3x odd) standing in for a real weight table;
    at 100 TB the quota CTE is exactly where a curated weights table
    would join in. One scan for quotas + one window on source, then an
    (AQE-broadcast) join of the tiny quota relation.
    """
    bucket = _BUCKET.format(mod=4294967296)
    template = f"""
WITH src AS (
  SELECT source, COUNT(*) AS n,
         CASE WHEN CAST(SUBSTR(source, 4) AS INT) % 2 = 0 THEN 3 ELSE 1 END AS w
  FROM {view} GROUP BY source
),
quota AS (
  SELECT source, n, ({budget} * w) {{idiv}} SUM(w) OVER () AS q FROM src
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY {bucket}, doc_id) AS rk
  FROM {view}
)
SELECT r.source, COUNT(*) AS n_sampled, CAST(SUM(r.doc_id) AS BIGINT) AS id_checksum
FROM ranked r JOIN quota q ON r.source = q.source
WHERE r.rk <= LEAST(q.q, q.n)
GROUP BY r.source
"""
    return P.bi_sql(template, idiv=("DIV", "//"))


def temperature_mixture_sql(budget: int = 1000, view: str = "documents") -> tuple[str, str]:
    """Temperature-scaled source mixing (the multilingual/multi-source
    rebalancing rule of mT5 / XLM-R: sample source i with probability
    proportional to p_i^alpha, alpha = 1/T < 1) — upweights tail
    sources relative to raw proportional sampling without flattening
    to uniform. This is the OTHER standard mixer next to
    :func:`mixture_sample_sql`'s explicit weight table: there the
    weights are curated inputs, here they are a power of the observed
    counts.

    Pinned at T = 2 (alpha = 0.5): n^0.5 is SQRT, which IEEE-754
    requires to be correctly rounded — bit-identical in Spark and
    DuckDB — whereas general POW(n, 1/T) is libm-dependent and NOT
    oracle-safe (same determinism stance as the log2-free degree
    histogram, graph.py). Weights are quantized to integer micro-units
    BEFORE the window sum so every downstream op is exact integer
    arithmetic; quotas use floor-div and are capped at the source's
    actual size (a tail source cannot be over-drawn).

    Scale shape: one map-side-combined count per source, then a window
    over the tiny per-source relation — the document table is scanned
    once; at 100 TB the quota relation is a few hundred rows joined
    back broadcast, exactly like the mixture sampler."""
    template = f"""
WITH src AS (SELECT source, COUNT(*) AS n FROM {view} GROUP BY source),
w AS (
  SELECT source, n,
         CAST(ROUND(SQRT(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w_micro
  FROM src
)
SELECT source, CAST(n AS BIGINT) AS n_docs, w_micro,
       CAST(LEAST(({budget} * w_micro) {{idiv}} SUM(w_micro) OVER (), n) AS BIGINT) AS quota
FROM w
"""
    return P.bi_sql(template, idiv=("DIV", "//"))


def token_budget_sql(budget: int = 500000, view: str = "documents") -> tuple[str, str]:
    """TOKEN-level budget planning — the table an LLM pretraining run
    is actually scheduled from (docs are the wrong unit: a source of
    few long documents can outweigh one of many short ones). One scan
    tokenizes (the same bi-engine tokenizer as the text ops), sums
    tokens per source, applies the T=2 temperature weights of
    :func:`temperature_mixture_sql` (IEEE-exact SQRT over token
    counts, quantized to integer micro-units), and emits each source's
    token quota plus `epochs_permille` = quota/corpus-size: >1000
    means the source is over-sampled (multiple passes) at this budget
    — the number you check against your repetition-tolerance rule
    before launching.

    Scale shape: single scan + per-source aggregate + a window over
    the tiny source relation; tokenization never leaves the first
    map stage."""
    template = f"""
WITH dt AS (
  SELECT source, {{arr_len}}({{tokens}}) AS n_tok FROM {view}
),
src AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM dt GROUP BY source
),
w AS (
  SELECT source, n_docs, n_tokens,
         CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS w_micro
  FROM src
)
SELECT source, n_docs, n_tokens,
       CAST(({budget} * w_micro) {{idiv}} SUM(w_micro) OVER () AS BIGINT) AS token_quota,
       CAST((({budget} * w_micro) {{idiv}} SUM(w_micro) OVER ()) * 1000 {{idiv}} n_tokens AS BIGINT)
         AS epochs_permille
FROM w
"""
    return P.bi_sql(
        template,
        idiv=("DIV", "//"),
        arr_len=("size", "len"),
        tokens=(P.spark_tokens("text"), P.duck_tokens("text")),
    )


def training_pipeline(spark: SparkSession, q_min: float = 0.45) -> DataFrame:
    """The flagship composition: the whole pretraining-data pipeline —
    quality filter → near-dup cluster keeper → deterministic train
    split → per-source corpus report — as one DataFrame plan over the
    staged relations the individual operators already share.

    Spark shape: quality is a map-side projection; the non-keeper set
    comes from the STAGED cluster relation (pairs table + label
    propagation, shared with dedup_cluster_components); the split is a
    pure doc_id hash; survivors anti-join the non-keepers (broadcast —
    dup sets are small relative to the corpus) and aggregate once on
    source. End to end: the only wide operations are the dedup staging
    (already paid once per corpus) and ONE final aggregation.
    """
    from . import graph, textops

    docs = spark.table("documents")
    q = textops.quality_score_staged(spark).select("doc_id", "quality")
    clusters = graph.dup_clusters(spark)
    non_keepers = clusters.filter("doc_id != cluster_id").select("doc_id")
    bucket = _BUCKET.format(mod=1000)
    survivors = (
        docs.join(q, "doc_id")
        .filter(F.col("quality") >= q_min)
        .join(non_keepers, "doc_id", "left_anti")
        .filter(F.expr(f"{bucket} < 900"))
    )
    return survivors.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


def training_pipeline_oracle_sql(q_min: float = 0.45) -> str:
    """Single-statement oracle for the full pipeline: quality CTE +
    recursive-closure clusters (as a derived table) + hash split,
    composed exactly like the Spark plan."""
    from . import graph, textops

    bucket = _BUCKET.format(mod=1000)
    return f"""
WITH q AS ({textops.oracle_quality_score()}),
clusters AS (SELECT * FROM ({graph.dup_clusters_oracle_sql()}) c),
survivors AS (
  SELECT d.doc_id, d.source, d.n_chars
  FROM documents d JOIN q ON q.doc_id = d.doc_id
  WHERE q.quality >= {q_min}
    AND NOT EXISTS (SELECT 1 FROM clusters c
                    WHERE c.doc_id = d.doc_id AND c.cluster_id <> d.doc_id)
    AND {bucket.replace("doc_id", "d.doc_id")} < 900
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM survivors
GROUP BY source
"""

def pack_sequences_sql(budget: int = 2048, view: str = "documents") -> tuple[str, str]:
    """Sequence packing: concat-and-chunk documents into fixed
    token-budget training sequences (the batching step of an LLM data
    pipeline — e.g. GPT-3 §2.3's document packing). Documents are
    shuffled by deterministic hash within each language shard, token
    counts accumulate in a running window, and a document lands in the
    sequence where it STARTS: seq_id = (cumsum − n_tok) / budget, so a
    straddling document extends its sequence past the budget (exactly
    the concat-then-chunk semantics, minus mid-document splitting).
    Token counts are ceil(n_chars / 4) — the engine's approx_llm_tokens
    — so packing reads only (doc_id, lang, n_chars), never the text.

    All-integer arithmetic (hash shuffle, cumulative sum, integer
    division) makes the assignment a pure function of (doc_id, lang,
    n_chars): reproducible across runs, engines, partitionings.

    Scale shape: one shuffle on the shard key + one O(n log n)
    per-shard sort feed the running-sum window; the group-by reuses the
    same partitioning (no second exchange of the full relation). At
    100 TB a single language is too big for one window partition —
    shard on (lang, hash DIV 2^k) so each shard packs independently
    with seq ids local to the shard; packing quality is unchanged
    because the order inside a shard is already a hash shuffle.
    Ref parity: the reference's row-range chunker (D11,
    CommandExecuter.cs:556-588) slices by row count; this is the
    token-budget generalization a training pipeline needs."""
    shuf = _BUCKET.format(mod=4294967296)
    template = f"""
WITH t AS (
  SELECT doc_id, lang, {shuf} AS shuf,
         (n_chars + 3) {{idiv}} 4 AS n_tok
  FROM {view}
),
c AS (
  SELECT lang, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang ORDER BY shuf, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
),
b AS (
  SELECT lang, n_tok, CAST((cum - n_tok) {{idiv}} {budget} AS BIGINT) AS seq_id
  FROM c
)
SELECT lang, seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
       (CAST(SUM(n_tok) AS BIGINT) * 1000000) {{idiv}} {budget} AS fill_ppm
FROM b
GROUP BY lang, seq_id
"""
    return P.bi_sql(template, idiv=("DIV", "//"))


def cross_source_overlap_sql(view: str = "documents") -> str:
    """Cross-source exact-duplicate overlap matrix: for every pair of
    sources, how many distinct texts appear in BOTH. The report you
    read before dropping a source from the mix — a source whose
    content is largely contained in another is cheap to cut.

    Scale shape: the text hash collapses each document to 8 bytes
    before ANY shuffle; DISTINCT (source, h) bounds the join's posting
    list per hash at |sources|, so the self-join on h is linear with a
    tiny constant (never all-pairs on documents), and the output is at
    most |sources|^2 rows. Integer-only — exact cross-engine hashes.
    """
    return f"""
WITH h AS (
  SELECT DISTINCT source, {P.duck_poly_hash("lower(text)")} AS h FROM {view}
)
SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
GROUP BY a.source, b.source
"""


def cross_source_overlap_staged(spark: SparkSession, view: str = "documents") -> DataFrame:
    """Spark path for the overlap matrix: poly-hash from the SHARED
    staged fingerprint relation (dedup.materialize_texthash — the SQL
    lambda is interpreted per character, and a self-join over a lazy
    hashed subtree re-runs the kernel once per side, plus once more
    per side for the pushed isnotnull(h) filter), distinct on the
    8-byte (source, h) pairs, then a self-join keyed on h whose posting
    lists are bounded by |sources|. Only hashes ever shuffle."""
    from . import dedup

    h = (
        spark.table(dedup.materialize_texthash(spark, view))
        .select("source", "h")
        .distinct()
    )
    a, b = h.alias("a"), h.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )


def dedup_survivorship_sql(view: str = "documents") -> str:
    """Exact-dedup survivorship by source: with min-doc_id as the
    canonical keeper of every duplicate class, how many documents each
    source keeps vs loses. The companion report to
    cross_source_overlap_sql — overlap says WHO shares content,
    survivorship says who pays for it under the keeper rule.

    Scale shape: text collapses to an 8-byte hash before any shuffle;
    the keeper reduction is a hash aggregate on h, and the join back is
    equi-keyed on h with posting lists bounded by the duplicate-class
    size. Integer-only output.
    """
    return f"""
WITH h AS (
  SELECT doc_id, source, {P.duck_poly_hash("lower(text)")} AS h FROM {view}
),
canon AS (SELECT h, MIN(doc_id) AS keeper FROM h GROUP BY h)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM h JOIN canon ON h.h = canon.h
GROUP BY source
"""


def dedup_survivorship_staged(spark: SparkSession, view: str = "documents") -> DataFrame:
    """Spark path: poly-hash from the SHARED staged fingerprint
    relation (dedup.materialize_texthash), keeper via a min window over
    h (one shuffle on h — no join back needed: the window carries the
    keeper to every row of its class), then the per-source rollup."""
    from pyspark.sql import Window

    from . import dedup

    h = spark.table(dedup.materialize_texthash(spark, view)).select(
        "doc_id", "source", "h"
    )
    w = Window.partitionBy("h")
    kept = h.withColumn("keeper", F.min("doc_id").over(w))
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("doc_id") == F.col("keeper"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0)).alias("n_dropped"),
    )


def weighted_sample_sql(
    cap: int = 4000, view: str = "documents"
) -> tuple[str, str]:
    """Length-weighted Bernoulli sample: each document is kept with
    probability proportional to its size, p = min(n_chars, cap)/cap —
    the token-budget-aware downsampling step of corpus mixing (long
    documents carry more training tokens, so uniform-by-doc sampling
    under-represents them; weighting by length samples *tokens*
    uniformly). The coin is a deterministic integer hash of the doc id
    with a fixed salt, so the sample is a pure function of the corpus
    (reproducible across runs/engines — the property every training
    ablation needs), and the cap bounds any single document's pull.

    All-integer accept test (draw·cap < w·10^6 with draw < 10^6), no
    FP anywhere. Scale shape: embarrassingly parallel row filter — no
    shuffle, no join, predicate evaluable in the scan stage; the
    output is the sampled rows themselves.
    """
    template = f"""
SELECT doc_id, source, n_chars,
       {{draw}} AS draw
FROM {view}
WHERE {{draw}} * {cap} < least(n_chars, {cap}) * 1000000
"""
    spark_draw = P.spark_poly_hash("concat('ws|', CAST(doc_id AS STRING))") + " % 1000000"
    duck_draw = P.duck_poly_hash("concat('ws|', CAST(doc_id AS VARCHAR))") + " % 1000000"
    return P.bi_sql(template, draw=(spark_draw, duck_draw))


def split_leakage_sql(
    train_per_mille: int = 900, val_per_mille: int = 950, tau: float = 0.8
) -> str:
    """DuckDB oracle for the split-leakage audit (see
    split_leakage_staged): near-dup clusters whose members straddle
    train/val/test splits, grouped by the exact combination of splits
    they touch."""
    from . import graph

    bucket = _BUCKET.format(mod=1000)
    return f"""
WITH clusters AS (SELECT * FROM ({graph.dup_clusters_oracle_sql(tau=tau).strip()}) c),
labeled AS (
  SELECT cluster_id,
         CASE WHEN {bucket} < {train_per_mille} THEN 'train'
              WHEN {bucket} < {val_per_mille} THEN 'val'
              ELSE 'test' END AS split
  FROM clusters
),
per_cluster AS (
  SELECT cluster_id,
         COUNT(*) AS n_docs,
         COUNT(DISTINCT split) AS n_splits,
         array_to_string(list_sort(list_distinct(list(split))), '+') AS splits_key
  FROM labeled
  GROUP BY cluster_id
)
SELECT splits_key,
       COUNT(*) AS n_clusters,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END) AS BIGINT) AS docs_at_risk
FROM per_cluster
GROUP BY splits_key
"""


def split_leakage_staged(
    spark, train_per_mille: int = 900, val_per_mille: int = 950, tau: float = 0.8
):
    """Train/test leakage audit through NEAR-duplicates: a document in
    the test split whose near-duplicate sits in train leaks evaluation
    signal even though the exact rows differ — the audit every frontier
    pipeline runs after split assignment (deduplicate ACROSS splits,
    not just within). Clusters come from the shared staged jaccard-pair
    relation (one LSH-bounded pairing per session, reused by the whole
    dedup family); split labels are the same pure-function-of-doc_id
    buckets as corpus_split_assign, so the audit is consistent with the
    production splitter by construction.

    Output: one row per combination of splits a cluster touches
    ('train', 'train+val', ...), with cluster/doc counts and the
    docs-at-risk mass (docs in straddling clusters).

    Scale shape: pair generation is the LSH-bucketed join (never
    all-pairs); components iterate over the (tiny) pair relation;
    labeling is a projection; two hash aggregates end the plan. The
    audit's own cost is dominated by the pair stage the session has
    usually already paid for dedup itself.
    """
    from pyspark.sql import functions as F

    from . import graph

    bucket = _BUCKET.format(mod=1000)
    clusters = graph.dup_clusters(spark, tau=tau)
    labeled = clusters.withColumn(
        "split",
        F.expr(
            f"CASE WHEN {bucket} < {train_per_mille} THEN 'train' "
            f"WHEN {bucket} < {val_per_mille} THEN 'val' ELSE 'test' END"
        ),
    )
    per_cluster = labeled.groupBy("cluster_id").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("split").alias("n_splits"),
        F.array_join(F.array_sort(F.collect_set("split")), "+").alias("splits_key"),
    )
    return per_cluster.groupBy("splits_key").agg(
        F.count("*").alias("n_clusters"),
        F.sum("n_docs").alias("n_docs"),
        F.sum(F.when(F.col("n_splits") > 1, F.col("n_docs")).otherwise(0)).alias(
            "docs_at_risk"
        ),
    )


def domain_quota_sql(cap: int = 20, view: str = "documents") -> tuple[str, str]:
    """Per-source quota enforcement — domain balancing: keep at most
    ``cap`` documents per source, preferring the longest (largest
    n_chars, doc_id tiebreak → total order, deterministic on any
    engine/partitioning), and report what survives and what the cap
    cut. The standard guard against a single crawl domain dominating
    the mixture.

    Scale shape: one shuffle on source, ROW_NUMBER inside each
    source's window — Spark plans PARTITION BY windows as a single
    exchange + in-partition sort, and WindowGroupLimit pushes the
    rk <= cap cut below the full sort at scale. Aggregation reuses the
    same partitioning (no second exchange).
    """
    template = f"""
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM {view}
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rk <= {cap} THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       CAST(SUM(CASE WHEN rk > {cap} THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
       CAST(SUM(CASE WHEN rk <= {cap} THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
       MIN(CASE WHEN rk <= {cap} THEN n_chars END) AS min_kept_chars
FROM ranked
GROUP BY source
"""
    return template, template


def domain_quota_salted_sql(
    cap: int = 20, salts: int = 8, view: str = "documents"
) -> str:
    """Spark-side two-phase (salted) form of :func:`domain_quota_sql`
    for the mega-domain case (one crawl domain holding a large share
    of the corpus would funnel its whole row set through a single
    window partition): phase 1 ranks within (source, doc_id % salts)
    — ``salts`` parallel partitions per source, each cut at ``cap`` —
    and phase 2 re-ranks only the <= salts*cap survivors per source.
    EXACT by construction: every member of a source's true top-cap is
    also in its salt's top-cap, so phase 1 never discards a winner —
    the same survivors-superset argument as skew.salted_agg. The
    oracle is the UNSALTED statement; hash equality proves the salt
    never leaks into the result.

    Totals come from a separate count aggregate of the base relation
    (map-side combinable; the per-source totals relation broadcasts
    back), so the report still covers ALL rows while only survivor
    rows reach the phase-2 sort.
    """
    return f"""
WITH totals AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS all_chars
  FROM {view} GROUP BY source
),
r1 AS (
  SELECT source, n_chars, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source, doc_id % {salts}
           ORDER BY n_chars DESC, doc_id ASC
         ) AS rk1
  FROM {view}
),
r2 AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
         ) AS rk
  FROM r1 WHERE rk1 <= {cap}
),
k AS (
  SELECT source,
         CAST(SUM(CASE WHEN rk <= {cap} THEN 1 ELSE 0 END) AS BIGINT) AS kept,
         CAST(SUM(CASE WHEN rk <= {cap} THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
         MIN(CASE WHEN rk <= {cap} THEN n_chars END) AS min_kept_chars
  FROM r2 GROUP BY source
)
SELECT t.source, t.n_docs, k.kept,
       t.n_docs - k.kept AS dropped,
       k.kept_chars, k.min_kept_chars
FROM totals t JOIN k ON k.source = t.source
"""


# -------------------------------------------------------- DSIR weights
def _dsir_body(tk_sql: str, idiv: str, big_t: str, n_buckets: int) -> str:
    """Shared doc-score body for the DSIR operators (engine-specific
    token relation injected as ``tk_sql`` = (doc_id, lang, b)). Emits
    the per-doc relation ``dscore`` (doc_id, n_tok, mass) plus the
    bucket model CTEs; callers append their own final SELECT."""
    return f"""
tk AS ({tk_sql}),
tgt AS (SELECT b, COUNT(*) AS cnt FROM tk WHERE lang = 'en' GROUP BY b),
raw AS (SELECT b, COUNT(*) AS cnt FROM tk WHERE lang <> 'en' GROUP BY b),
mass AS (SELECT (SELECT COALESCE(SUM(cnt), 0) FROM tgt) AS t_mass,
                (SELECT COALESCE(SUM(cnt), 0) FROM raw) AS r_mass),
buck AS (
  SELECT COALESCE(t.b, r.b) AS b,
         CAST(CAST(COALESCE(t.cnt, 0) + 1 AS {big_t})
                * (m.r_mass + {n_buckets}) * 1000000
              {idiv} (CAST(COALESCE(r.cnt, 0) + 1 AS {big_t})
                * (m.t_mass + {n_buckets}))
              AS {big_t}) AS ratio_ppm
  FROM tgt t FULL OUTER JOIN raw r ON t.b = r.b CROSS JOIN mass m
),
dscore AS (
  SELECT tk.doc_id, COUNT(*) AS n_tok, SUM(bu.ratio_ppm) AS mass
  FROM tk JOIN buck bu ON bu.b = tk.b
  GROUP BY tk.doc_id
)"""


def _dsir_spark_sql(tok_view: str, n_buckets: int) -> str:
    """Spark-side DSIR body (round 12, guide §2.3/§2.4): the shared
    _dsir_body references tk from tgt, raw AND dscore, and tgt/raw
    each TWICE more (the mass scalar subqueries + the buck join) —
    under CTE inlining that re-scans the staged token relation 4x and
    re-derives both bucket aggregates. This form derives both sides'
    bucket counts in ONE grouped pass (conditional sums instead of the
    filter + full-outer-join), and the corpus masses become windows
    over that ≤ n_buckets-row relation — constant-size single-partition
    work, the offsets-pass shape. Token passes: 4 → 2 (the model pass
    and the dscore join). Values are bit-identical: for non-NULL lang
    the en/non-en conditional sums ARE tgt/raw's counts with the
    outer-join COALESCEs applied, bucket membership (any token of
    either side) is the same GROUP BY b, a NULL-lang-only bucket is
    excluded by the WHERE exactly as it fell out of both one-sided
    filters, and the ratio arithmetic keeps the same DECIMAL(38,0)
    casts. The DuckDB oracle keeps the textbook _dsir_body."""
    tk = (
        f"SELECT doc_id, lang, CAST(h % {n_buckets} AS BIGINT) AS b "
        f"FROM {tok_view}"
    )
    return f"""
tk AS ({tk}),
cnts AS (
  SELECT b,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_cnt,
         SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS r_cnt
  FROM tk WHERE lang IS NOT NULL GROUP BY b
),
buck AS (
  SELECT b,
         CAST(CAST(t_cnt + 1 AS DECIMAL(38,0))
                * (SUM(r_cnt) OVER () + {n_buckets}) * 1000000
              DIV (CAST(r_cnt + 1 AS DECIMAL(38,0))
                * (SUM(t_cnt) OVER () + {n_buckets}))
              AS DECIMAL(38,0)) AS ratio_ppm
  FROM cnts
),
dscore AS (
  SELECT tk.doc_id, COUNT(*) AS n_tok, SUM(bu.ratio_ppm) AS mass
  FROM tk JOIN buck bu ON bu.b = tk.b
  GROUP BY tk.doc_id
)"""


def _dsir_duck_sql(view: str, n_buckets: int) -> str:
    tk = (
        f"SELECT doc_id, lang, {P.duck_poly_hash('tok')} % {n_buckets} AS b "
        f"FROM (SELECT doc_id, lang, unnest({P.duck_tokens('text')}) AS tok "
        f"FROM {view}) t"
    )
    return _dsir_body(tk, "//", "HUGEINT", n_buckets)


_DSIR_WEIGHTS_TAIL = """
SELECT d.doc_id, d.lang,
       CAST(COALESCE(x.n_tok, 0) AS BIGINT) AS n_tok,
       CAST(COALESCE(x.mass {idiv} x.n_tok, 1000000) AS BIGINT) AS dsir_score_ppm
FROM {view} d LEFT JOIN dscore x ON x.doc_id = d.doc_id
"""


def dsir_weights_staged(
    spark: SparkSession, n_buckets: int = 1024, view: str = "documents"
) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS'23, arXiv:2302.03169)
    over hashed unigram bag features: score each document by how much
    more likely its tokens are under the TARGET distribution (lang='en'
    here — "select raw data that looks like the target domain") than
    under the raw distribution.

    Log-free stand-in per DETERMINISM.md (the paper sums log-ratios;
    LN would diverge in the last ulp across engines): per-bucket
    importance ratio_ppm = p_hat/q_hat in ppm computed EXACTLY from the
    Laplace-smoothed counts — ((t_cnt+1)(r_mass+B)·1e6) div
    ((r_cnt+1)(t_mass+B)) — and the doc score is the arithmetic mean of
    its tokens' ratios (monotone proxy for the paper's mean log-ratio;
    preserves the selection ranking for thresholding). Numerator
    reaches t_cnt·r_mass·1e6 ~ 1e30 on a 100 TB corpus: widened to
    DECIMAL(38,0)/HUGEINT before the multiply (the _PMI_FRAGS guard).

    Scale shape: the bucket model is ≤ B=1024 rows — two map-side-
    combined aggregates on the staged token relation, one broadcast
    join back onto it, one per-doc aggregate. Nothing materializes
    above token-relation size; the hash is the staged relation's
    precomputed ``h`` (free). Tokens-absent docs score neutral (1e6).

    The reference has no corpus surface; this extends the quality-gate
    discipline (Helper.cs audit plane) to target-aware data selection.
    """
    from . import textops

    tok = textops.materialize_tokens(spark, view)
    return spark.sql(
        "WITH "
        + _dsir_spark_sql(tok, n_buckets)
        + _DSIR_WEIGHTS_TAIL.format(idiv="DIV", view=view)
    )


def oracle_dsir_weights(n_buckets: int = 1024, view: str = "documents") -> str:
    return (
        "WITH "
        + _dsir_duck_sql(view, n_buckets)
        + _DSIR_WEIGHTS_TAIL.format(idiv="//", view=view)
    )


_DSIR_QUOTA_TAIL = """,
src AS (
  SELECT d.source,
         COUNT(*) AS n_docs,
         CAST(SUM(COALESCE(x.n_tok, 0)) AS BIGINT) AS n_tokens,
         SUM(COALESCE(x.mass, 0)) AS w_mass
  FROM {view} d LEFT JOIN dscore x ON x.doc_id = d.doc_id
  GROUP BY d.source
)
SELECT source, n_docs, n_tokens,
       CAST(w_mass {idiv} 1000000 AS BIGINT) AS weighted_tokens,
       CAST(({budget} * w_mass) {idiv} SUM(w_mass) OVER () AS BIGINT) AS token_quota
FROM src
"""


def dsir_quota_staged(
    spark: SparkSession,
    n_buckets: int = 1024,
    budget: int = 500000,
    view: str = "documents",
) -> DataFrame:
    """The resampling step of DSIR at source granularity: each source's
    token quota is proportional to its IMPORTANCE-WEIGHTED token mass
    (sum of its docs' per-token target/raw ratios) instead of
    corpus_token_budget's target-blind sqrt-temperature weights — a
    source whose text looks like the target wins budget even if small.
    weighted_tokens = w_mass/1e6 is the effective token count after
    importance weighting (== n_tokens when a source is exactly
    target-neutral). Same integer quota arithmetic as the other
    planners so the three mixing strategies are directly comparable.

    Scale: reuses the DSIR doc relation; adds one |sources|-row
    aggregate and a window over it."""
    from . import textops

    tok = textops.materialize_tokens(spark, view)
    return spark.sql(
        "WITH "
        + _dsir_spark_sql(tok, n_buckets)
        + _DSIR_QUOTA_TAIL.format(idiv="DIV", view=view, budget=budget)
    )


def oracle_dsir_quota(
    n_buckets: int = 1024, budget: int = 500000, view: str = "documents"
) -> str:
    return (
        "WITH "
        + _dsir_duck_sql(view, n_buckets)
        + _DSIR_QUOTA_TAIL.format(idiv="//", view=view, budget=budget)
    )
