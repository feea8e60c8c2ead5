"""Physical-plan regression tests: the properties that matter at
100 TB — filters reaching the parquet scan, column pruning, broadcast
joins for small dimensions, no gratuitous shuffles — asserted on the
actual executed plans so a refactor can't silently regress them."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_service_spark.plans.queries import registry, views

CASES = registry()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    """etl_copy_align_audit filters orders on o_totalprice; the
    predicate must reach the scan (PushedFilters), not run post-scan."""
    df = CASES["etl_copy_align_audit"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters" in plan and "o_totalprice" in plan.split("PushedFilters", 1)[1][:200], plan[:800]


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A 2-column projection over lineitem must not read all 16 cols."""
    v = views(spark, sf_dir)
    df = v["lineitem"].select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 10)
    plan = _plan(df)
    read = plan.split("ReadSchema", 1)[1][:300]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_comment" not in read and "l_extendedprice" not in read


def test_small_dims_are_broadcast(spark, sf_dir):
    """chain join over region/nation/customer/orders: the small dims
    must come in as broadcast joins, not shuffled sort-merge."""
    df = CASES["chain_join_revenue"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_exact_dedup_single_shuffle(spark, sf_dir):
    """hash-groupBy dedup is ONE shuffle (partial agg map-side, final
    agg post-exchange) — more exchanges means the plan regressed."""
    df = CASES["dedup_exact"].spark(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange") <= 2, plan  # 1 agg exchange (+AQE read)


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    """tpch_q1 (scan→filter→agg) must run inside WholeStageCodegen.
    AQE only shows codegen stages in the FINAL plan, so execute first."""
    import contextlib
    import io

    df = CASES["tpch_q1_pricing"].spark(spark, sf_dir)
    df.collect()  # finalize the adaptive plan first
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "Found" in buf.getvalue() and "WholeStageCodegen subtrees" in buf.getvalue()
    assert "Found 0" not in buf.getvalue()


def test_sessionize_single_shuffle_on_user(spark, sf_dir):
    """Both window functions and the final aggregate share the user_id
    partitioning: exactly one data exchange on user_id."""
    df = CASES["events_sessionize"].spark(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Bucketed tables joined on the bucket key: zero shuffles — the
    one-time-shuffle-at-ingest strategy for repeatedly-joined facts."""
    from etl_service_spark.operators.copy import write_bucketed

    v = views(spark, sf_dir)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(v["orders"].select("o_orderkey", "o_totalprice"), "orders_bkt", "o_orderkey", 8)
        write_bucketed(
            v["lineitem"].select("l_orderkey", "l_quantity"), "lineitem_bkt", "l_orderkey", 8
        )
        j = spark.table("orders_bkt").join(
            spark.table("lineitem_bkt"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS lineitem_bkt")


def test_corpus_split_single_shuffle(spark, sf_dir):
    """Deterministic split assignment is scan → project(bucket) →
    partial agg → one exchange → final agg: the hash is computed
    map-side, so only (split, partial-agg) rows ever shuffle."""
    df = CASES["corpus_split_assign"].spark(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_corpus_stratified_sample_one_exchange_on_stratum(spark, sf_dir):
    """Per-stratum hash-rank sampling shuffles once on the stratum key
    (lang) for the window; no second shuffle for the rank filter."""
    df = CASES["corpus_stratified_sample"].spark(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "RunningWindowFunction" in plan or "Window" in plan, plan


def test_corpus_dup_rate_shuffles_hashes_not_text(spark, sf_dir):
    """The poly-hash runs in the Arrow kernel before any keyed
    exchange, so aggregation shuffles carry (source, hash) pairs — the
    text column must not appear in any hash-partitioned exchange.
    (The round-robin fan_out exchange before the kernel does carry
    text; it exists only for single-file local scans.)"""
    df = CASES["corpus_dup_rate_by_source"].spark(spark, sf_dir)
    plan = _plan(df)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line


def test_asof_join_single_shuffle_on_user(spark, sf_dir):
    """The union + carry-forward as-of join partitions once on user_id;
    the window and final filter reuse that partitioning (no second
    keyed exchange, no pair-explosion join node)."""
    df = CASES["events_asof_join"].spark(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # dedup-rn + carry windows
    assert "SortMergeJoin" not in plan and "NestedLoop" not in plan, plan


def test_range_join_is_binned_not_nested_loop(spark, sf_dir):
    """The no-equi-key interval join must run as a bin equi-join
    (hash/sort-merge on the time bin), never BroadcastNestedLoopJoin —
    the O(N*M) plan that cannot survive scale."""
    df = CASES["events_range_join"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "NestedLoop" not in plan, plan
    assert "Join" in plan, plan


def test_multires_rollup_single_expand_shuffle(spark, sf_dir):
    """GROUPING SETS expands map-side (Expand node) and aggregates
    through ONE keyed exchange — not one job per resolution."""
    df = CASES["events_multires_rollup"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "Expand" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_q5_broadcasts_dims_single_big_shuffle(spark, sf_dir):
    """TPC-H Q5: region/nation/supplier/customer come in as broadcast
    joins; only orders x lineitem shuffles. The 6-table plan must not
    shuffle a dimension."""
    df = CASES["tpch_q5_local_supplier"].spark(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]


def test_q6_all_predicates_pushed(spark, sf_dir):
    """The pure-pushdown scan: shipdate range, discount range, and
    quantity bound must ALL reach the parquet reader."""
    df = CASES["tpch_q6_forecast_revenue"].spark(spark, sf_dir)
    pushed = _plan(df).split("PushedFilters", 1)[1][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_q19_or_predicates_split_per_side(spark, sf_dir):
    """OR-of-ANDs spanning the join: the brand/size disjunction must be
    pushed to the part scan and the quantity disjunction to the
    lineitem scan — neither side may scan unfiltered."""
    plan = _plan(CASES["tpch_q19_or_pushdown"].spark(spark, sf_dir))
    scans = plan.split("Scan parquet")
    part_scan = next(s for s in scans[1:] if "part.parquet" in s[:400])
    line_scan = next(s for s in scans[1:] if "lineitem.parquet" in s[:400])
    assert "p_brand" in part_scan.split("PushedFilters", 1)[1][:500]
    assert "l_quantity" in line_scan.split("PushedFilters", 1)[1][:500]


def test_q18_having_set_joins_as_semi(spark, sf_dir):
    """The IN (grouped HAVING subquery) must plan as a semi join
    against the qualifying key set, not a full join + dedup."""
    plan = _plan(CASES["tpch_q18_bulk_customers"].spark(spark, sf_dir))
    assert "LeftSemi" in plan, plan[:1500]


def test_attribution_join_is_hash_not_nestedloop(spark, sf_dir):
    """The interval join has a user_id equi-key: it must be a hash or
    sort-merge join with the time range as a post-join condition —
    a nested-loop over the cross product would be quadratic."""
    plan = _plan(CASES["events_attribution_join"].spark(spark, sf_dir))
    assert "NestedLoop" not in plan, plan[:1500]
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan), plan[:1500]


def test_kmeans_centroid_joins_broadcast(spark, sf_dir):
    """Every per-iteration centroid relation is k*64 rows; the distance
    join must end up broadcast and nothing may plan a cartesian
    product. Since the Lloyd iterations are STAGED (round 11: each
    assignment/centroid relation materialized once and shared), the
    consumer plan is join-free — so the pin runs the exact
    per-iteration assignment statement the staging pass executes
    (similarity._km_assign_sql over the staged element/centroid
    relations) and asserts on ITS final adaptive plan. The vec_id-keyed
    re-aggregation joins legitimately stay sort-merge: both sides are
    data-sized."""
    from etl_service_spark.operators import similarity as S

    consumer = CASES["emb_kmeans"].spark(spark, sf_dir)
    consumer.collect()  # materializes the staged Lloyd relations
    assert "CartesianProduct" not in _plan(consumer), _plan(consumer)[:1500]
    # big_t=BIGINT matches the consumer's row-count gate at test scale,
    # so the memo returns the already-staged relations (no re-staging)
    e_rel, cents, _assigns = S._kmeans_staged_rels(spark, big_t="BIGINT")
    step = spark.sql(S._km_assign_sql(e_rel, cents[0], "BIGINT"))
    step.collect()  # finalize AQE
    plan = _plan(step)
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_fuzzy_dedup_probe_is_parallel_hash_join(spark, sf_dir):
    """dedup_fuzzy_names: the blocked self-join must be a hash join
    (broadcast or shuffled) with a repartitioned probe side — a single
    parquet file otherwise scans as ONE partition and the whole pair
    expansion runs on one core (49 s → 0.6 s at sf0.1)."""
    df = CASES["dedup_fuzzy_names"].spark(spark, sf_dir)
    df.collect()  # finalize adaptive plan
    plan = _plan(df)
    assert "NestedLoop" not in plan, plan[:1500]
    assert "HashJoin" in plan, plan[:1500]
    assert plan.count("Exchange") >= 1, plan[:1500]  # the REPARTITION hint


def test_unpivot_avoids_expand(spark, sf_dir):
    """lineitem_unpivot_stats: the long-form stats must come from ONE
    wide aggregation over the scan (16 partial aggregates, shuffle
    carries one row) with the 4-row long shape assembled afterwards —
    NOT from the UNPIVOT Expand, which would push 4x the scan's row
    volume through the aggregation, and not from joins or per-column
    scan unions either."""
    df = CASES["lineitem_unpivot_stats"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "Expand" not in plan, plan[:1500]
    assert "Join" not in plan, plan[:1500]
    assert "Union" not in plan, plan[:1500]
    assert plan.count("Scan parquet") == 1 or plan.count("FileScan") == 1, plan[:1500]


def test_privacy_pseudonymize_broadcasts_group_sizes(spark, sf_dir):
    """privacy_pseudonymize: the QI-group-size relation is bounded by
    the quasi-identifier domain, so it must come back as a broadcast
    join onto the customer scan — never a shuffled join of the fact
    side against an aggregate of itself."""
    df = CASES["privacy_pseudonymize"].spark(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_salted_pagerank_identical_and_two_stage(spark, sf_dir):
    """graph_pagerank_salted: each round's destination aggregation must
    be the two-stage salted partial aggregate — a groupBy over
    (dest, salt) feeding a merge groupBy over dest — and integer SUM
    associativity must make the result BIT-identical to the unsalted
    recurrence."""
    from etl_service_spark.operators.graph import pagerank
    from etl_service_spark.operators.skew import SALT_COL
    from etl_service_spark.plans.queries import views

    views(spark, sf_dir)
    plain = {(r["node"], r["rank"]) for r in pagerank(spark).collect()}
    salted_df = pagerank(spark, salted=True)
    salted = {(r["node"], r["rank"]) for r in salted_df.collect()}
    assert salted == plain

    plan = _plan(salted_df)
    assert SALT_COL in plan, plan[:1500]  # salt key present in the agg stages


def test_vocab_by_source_broadcasts_docs_and_partials_distinct(spark, sf_dir):
    """text_vocab_by_source: the (doc_id, source) relation must come in
    as the broadcast side of the token join, and COUNT(DISTINCT tok)
    must plan as the two-phase partial-distinct aggregate (shuffle
    carries (source, tok) partials, never raw token rows)."""
    df = CASES["text_vocab_by_source"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "partial_count(distinct" in plan or "partial_count(1)" in plan, plan[:1500]
    assert plan.count("Exchange hashpartitioning") >= 2  # (src,tok) then src


def test_vocab_growth_is_one_pass_not_per_prefix(spark, sf_dir):
    """text_vocab_growth: the Heaps curve must come from ONE token
    aggregate (first-occurrence min) + a bucket join + a cumulative
    window over n_buckets rows — not a distinct scan per prefix (which
    would show 10+ scans of the documents text column)."""
    df = CASES["text_vocab_growth"].spark(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Window") == 1, plan[:1200]
    # text is scanned by the (shared, memoized) token stage, not by this
    # plan: only doc_id leaves the parquet scans here
    assert "text#" not in plan.split("Window")[0] or "FileScan parquet [doc_id" in plan


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Catalyst's runtime Bloom-filter join: a selective dimension
    filter injects a bloom_filter_agg on the build side and a
    might_contain probe on the fact scan — the shuffle-volume saver
    when the fact side is too big to avoid a shuffled join. Local
    testdata sits under the 10 GiB application-side default, so the
    thresholds are lowered HERE ONLY to prove the rewrite fires; at
    the 100 TB deployment the defaults fire on their own."""
    views(spark, sf_dir)
    old_scan = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(
            spark.sql(
                """
            SELECT l.l_orderkey, l.l_extendedprice
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 400000
            """
            )
        )
        assert "bloom_filter_agg" in plan, plan[:1200]
        assert "might_contain" in plan, plan[:1200]
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_scan,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)


def test_staged_relations_eliminate_base_rescans(spark, sf_dir):
    """The staged Spark paths (bigram LM, chunk dedup, PQ, basket) must
    read their staged relation, not re-scan the base tables — CTE
    re-inlining is the regression this guards against. The windowed
    resample plan must stay a single corpus scan."""
    import re

    def n_scans(name):
        df = CASES[name].spark(spark, sf_dir)
        p = _plan(df)
        return len(re.findall(r"FileScan parquet \[", p))

    for name in ["text_bigram_lm_score", "dedup_chunk_exact", "emb_pq_codes",
                 "ann_pq_adc_topk", "basket_brand_pairs"]:
        assert n_scans(name) == 0, f"{name} re-scans base tables"
    assert n_scans("corpus_resample_plan") == 1


def test_sentence_split_udtf_no_shuffle(spark, sf_dir):
    """The UDTF fan-out must stay scan → generate: one parquet scan,
    zero Exchange — at 100 TB sentence chunking is embarrassingly
    parallel and must never move data."""
    df = CASES["text_sentence_split"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan[:1500]
    assert plan.count("FileScan parquet") == 1


def test_exchange_count_guard_fails_on_added_shuffle():
    """Round-5: plan_audit's exchange-count guard must fail when a
    refactor adds an unplanned shuffle or broadcast vs the recorded
    baseline, not fail on equal/fewer, and not fire for unrecorded
    queries (string-level negative test of tools/plan_audit)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_audit_mod",
        os.path.join(os.path.dirname(__file__), "..", "tools", "plan_audit.py"),
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    plan = "\n".join(
        [
            "AdaptiveSparkPlan",
            "+- HashAggregate(keys=[k])",
            "   +- Exchange hashpartitioning(k, 32)",
            "      +- BroadcastHashJoin",
            "         :- Scan parquet [a,b]",
            "         +- BroadcastExchange HashedRelationBroadcastMode",
            "            +- Scan parquet [k]",
        ]
    )
    counts = pa.exchange_counts(plan)
    assert counts == {"shuffles": 1, "broadcasts": 1}

    base = {"q": {"shuffles": 1, "broadcasts": 1}}
    assert pa.check_exchanges("q", counts, base) == []  # equal: clean
    assert pa.check_exchanges("q", {"shuffles": 0, "broadcasts": 1}, base) == []
    bad = pa.check_exchanges("q", {"shuffles": 3, "broadcasts": 1}, base)
    assert len(bad) == 1 and "regressed 1 -> 3" in bad[0]
    bad2 = pa.check_exchanges("q", {"shuffles": 1, "broadcasts": 2}, base)
    assert len(bad2) == 1 and "broadcasts" in bad2[0]
    assert pa.check_exchanges("unrecorded", counts, base) == []
