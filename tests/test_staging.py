"""Parquet staging backend for the memoized relations: with
spark.etl_service.stagingDir set, every staged relation (shingle
hash-sets, prefix postings, token mass, dup pairs/clusters, IVF/LSH
stages) writes to parquet under the run-scoped dir and reads back —
the durable staging-table shape for a real cluster — and all oracle
checks stay green."""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest

from etl_service_spark.functions.portable import STAGING_DIR_CONF
from etl_service_spark.plans.queries import registry

from .harness import run_case

CASES = registry()

STAGED_FAMILIES = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_cluster_components",
    "text_tfidf_top_terms",
    "text_top_terms_per_language",
    "ann_ivf_topk",
    "ann_lsh_bucketed",
    "corpus_training_pipeline",
    "text_bigram_lm_score",
    "dedup_chunk_exact",
    "emb_pq_codes",
    "ann_pq_adc_topk",
    "basket_brand_pairs",
    "dedup_best_keeper",
    "dedup_exact",
    "dedup_containment",
    "dedup_lsh_band_tuning",
    "graph_pagerank",
    "graph_bfs_layers",
    "text_pmi_collocations",
    "dedup_winnowing_pairs",
    "text_rake_keywords",
    "text_bpe_fertility",
    "dim_scd2_invariants",
    "ann_ivf_incremental",
]

# the perfbench query_mix plus the families that used to register
# fixed-name temp views (scd2 audit, BPE encode)
REPEATED_FAMILIES = [
    "tpch_q5_local_supplier",
    "events_peak_concurrency",
    "dedup_minhash_lsh",
    "dedup_containment",
    "graph_pagerank",
    "graph_kcore",
    "dim_scd2_invariants",
    "text_bpe_fertility",
    "corpus_token_budget_bpe",
]


@pytest.fixture()
def staging_dir(spark, tmp_path):
    d = str(tmp_path / "staging")
    spark.conf.set(STAGING_DIR_CONF, d)
    try:
        yield d
    finally:
        spark.conf.unset(STAGING_DIR_CONF)


@pytest.mark.parametrize("name", STAGED_FAMILIES)
def test_staged_families_green_with_parquet_staging(spark, sf_dir, staging_dir, name):
    case = CASES[name]
    problems = run_case(spark, sf_dir, case.spark, case.oracle)
    assert not problems, f"{name}: " + " | ".join(problems)


def test_parquet_staging_actually_writes(spark, sf_dir, staging_dir):
    from etl_service_spark.operators import dedup
    from etl_service_spark.plans.queries import views

    views(spark, sf_dir)
    rel = dedup.materialize_hashsets(spark)
    assert os.path.isdir(os.path.join(staging_dir, rel))  # parquet dir, not a checkpoint
    assert spark.table(rel).count() > 0


def test_pair_outputs_staged_once_and_shared(spark, sf_dir):
    """Round 11: the VERIFIED pair / fingerprint OUTPUTS are staged
    (not just their inputs) and every consumer reads the same memoized
    relation — the sweep/recall-report consumers must not re-derive
    the candidate join per call, and the clustering path must share
    the standalone query's pair table instead of checkpointing it a
    second time."""
    from etl_service_spark.operators import dedup, graph
    from etl_service_spark.plans.queries import views

    views(spark, sf_dir)
    a = dedup.ngram_jaccard_staged_view(spark, tau=0.8)
    b = dedup.ngram_jaccard_staged_view(spark, tau=0.8)
    assert a == b  # memo hit: one materialization per (session, params)
    assert graph.staged_pairs_view(spark, tau=0.8) == a  # shared, not re-staged
    # consumer plans are scans of the staged relation — no candidate
    # self-join, no Arrow kernel, no exchange left in the pair query
    plan = (
        dedup.minhash_lsh_staged(spark)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "Exchange" not in plan, plan[:1200]


def test_r12_staged_relations_shared_and_memoized(spark, sf_dir):
    """Round 12: the winnowing fingerprint selection, the ExactSubstr
    span relation, the tf-idf term-frequency table and the RAKE words
    relation are memoized staged views — repeated calls return the
    SAME content-addressed relation (one materialization per session),
    and the sibling consumers share it instead of re-deriving."""
    from etl_service_spark.operators import dedup, textops
    from etl_service_spark.plans.queries import views

    views(spark, sf_dir)
    w1 = textops._winnow_fp_staged(spark, 4, 5, "documents")
    w2 = textops._winnow_fp_staged(spark, 4, 5, "documents")
    assert w1 == w2
    s1 = dedup._ess_spans_staged(spark, 8, "documents")
    s2 = dedup._ess_spans_staged(spark, 8, "documents")
    assert s1 == s2
    # the pair report's plan reads the staged fingerprints — the
    # w-window MIN selection must not be re-planned per reference
    plan = (
        textops.winnowing_pairs_staged(spark)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, plan[:1200]


def test_neardup_blocks_size_driven():
    """Round 12 (VERDICT r11 #1): the block count for the block-pair
    kernels is purely size-driven — the r11 parallelism floor was a
    driver-refuted 32-core regression and must not come back."""
    from etl_service_spark.operators.similarity import _neardup_blocks

    assert _neardup_blocks(2000, 700) == 3
    assert _neardup_blocks(1, 700) == 1
    assert _neardup_blocks(0, 700) == 1
    assert _neardup_blocks(70000, 700) == 100


def test_broadcast_threshold_parser(spark):
    """ADVICE r11: unit-suffixed autoBroadcastJoinThreshold values must
    parse instead of silently falling back to 10 MiB and flipping the
    size-adaptive join branches."""
    from pyspark.errors import IllegalArgumentException

    from etl_service_spark.operators.graph import _broadcast_threshold_bytes

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for raw, want in (
            ("64MB", 64 * 1024 * 1024),
            ("1g", 1024 ** 3),
            ("10485760b", 10 * 1024 * 1024),
            ("67108864", 64 * 1024 * 1024),
            ("-1", 0),
            ("garbage", 0),  # unparseable: fail closed, not 10 MiB
        ):
            try:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", raw)
                session = spark
            except IllegalArgumentException:
                # set() rejects malformed values up front; hand the
                # reader the raw string through a stand-in conf
                session = SimpleNamespace(conf=SimpleNamespace(get=lambda *_a, v=raw: v))
            assert _broadcast_threshold_bytes(session) == want, raw
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_triangle_staging_key_ignores_expression_ids(spark, sf_dir, staging_dir):
    """ADVICE r12 #1: the triangle census's staged paths are keyed on
    the canonicalized edge plan, so two separately built but identical
    edge relations share one set of staged dirs instead of differing
    by expression IDs."""
    from etl_service_spark.operators import graph
    from etl_service_spark.plans.queries import views

    views(spark, sf_dir)
    for _ in range(2):
        graph.triangle_stats(spark.sql(graph.PR_PAIRS_SQL), "a", "b").collect()
    staged = [d for d in os.listdir(staging_dir) if d.startswith("__tri_")]
    assert len(staged) == 3, staged


def _catalog_names(spark) -> list[str]:
    return sorted(t.name for t in spark.catalog.listTables())


def test_repeated_passes_leave_memo_and_catalog_constant(spark, sf_dir):
    """A long-lived session re-running queries must not grow: the
    second pass over the same families adds no memo entry and no
    catalog entry, and no fixed-name input view is left behind."""
    from etl_service_spark.functions import portable as P

    sizes = []
    for _ in range(2):
        for name in REPEATED_FAMILIES:
            CASES[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        sizes.append((len(P.memo_table(spark)), _catalog_names(spark)))
    assert sizes[0] == sizes[1]
    leftovers = [
        n for n in sizes[1][1]
        if n.startswith("__scd2_audit") or (n.startswith("__bpe") and n.endswith("enc"))
    ]
    assert not leftovers, leftovers


def test_concurrent_steps_with_different_params(spark, sf_dir):
    """Two threads in one session stage the same kinds with different
    params (BPE rounds): each result matches its sequential run — no
    shared fixed-name view and no memo entry crosses between them."""
    from etl_service_spark.operators import textops
    from etl_service_spark.plans.queries import views

    views(spark, sf_dir)

    def run(rounds):
        return sorted(textops.bpe_token_budget_staged(spark, rounds=rounds).collect())

    barrier = threading.Barrier(2)

    def step(rounds):
        barrier.wait(timeout=60)
        return run(rounds)

    with ThreadPoolExecutor(2) as pool:
        futures = {r: pool.submit(step, r) for r in (2, 3)}
        got = {r: f.result(timeout=600) for r, f in futures.items()}
    assert got[2] == run(2)
    assert got[3] == run(3)
    assert got[2] != got[3]  # the two configurations really differ


def test_memo_builds_each_key_once_under_contention():
    """Many threads asking for one key build it once and all get the
    same value; a new lineage replaces the entry and releases the old
    value exactly once."""
    import sys
    import time

    from etl_service_spark.functions import portable as P

    session = SimpleNamespace(conf=SimpleNamespace(get=lambda _k, d=None: d))
    corpus = {"files": ["part-0.parquet"]}
    src = SimpleNamespace(inputFiles=lambda: list(corpus["files"]))
    builds, released = [], []

    def build(key):
        builds.append(key)
        time.sleep(0.01)  # hold the build open so callers overlap it
        return f"v{len(builds)}"

    def ask():
        return P.memo(session, "k", (1,), src, build, release=released.append)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            got = [f.result(timeout=60) for f in [pool.submit(ask) for _ in range(64)]]
        assert got == ["v1"] * 64 and len(builds) == 1
        corpus["files"] = ["part-1.parquet"]
        with ThreadPoolExecutor(16) as pool:
            got = [f.result(timeout=60) for f in [pool.submit(ask) for _ in range(64)]]
    finally:
        sys.setswitchinterval(old_interval)
    assert got == ["v2"] * 64 and len(builds) == 2
    assert released == ["v1"]
    assert list(P.memo_table(session)) == [("k", (1,))]


def test_staging_memo_lives_only_in_portable():
    """Guard: staging memoization happens in functions/portable.py
    only. Fails on a module-level dict used by a function that builds
    keys from lineage_key or a session token outside portable.py
    (per-session state belongs on the session, as portable's memo and
    queries.views keep it), on a temp view registered under a fixed "__..." literal
    (a session-global name concurrent steps would overwrite), and on a
    name built from ``id(...)`` (CPython recycles addresses; such
    per-call views were never dropped — pass the DataFrame to
    ``spark.sql`` as a formatter argument instead)."""
    import ast
    import pathlib

    import etl_service_spark

    root = pathlib.Path(etl_service_spark.__file__).parent
    problems = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), rel)
        module_dicts = set()
        for node in tree.body:
            value = node.value if isinstance(node, (ast.Assign, ast.AnnAssign)) else None
            if isinstance(value, ast.Dict) or (
                isinstance(value, ast.Call) and getattr(value.func, "id", "") == "dict"
            ):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                module_dicts |= {t.id for t in targets if isinstance(t, ast.Name)}
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and rel != "functions/portable.py":
                called = {
                    getattr(n.func, "attr", getattr(n.func, "id", None))
                    for n in ast.walk(node)
                    if isinstance(n, ast.Call)
                }
                if called & {"session_token", "lineage_key"}:
                    used = {
                        n.id for n in ast.walk(node)
                        if isinstance(n, ast.Name) and n.id in module_dicts
                    }
                    problems += [f"{rel}:{node.name} memoizes in {d}" for d in sorted(used)]
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "createOrReplaceTempView"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and str(node.args[0].value).startswith("__")
            ):
                problems.append(f"{rel}:{node.lineno} fixed temp view {node.args[0].value!r}")
            if isinstance(node, ast.JoinedStr) and any(
                isinstance(v, ast.FormattedValue)
                and isinstance(v.value, ast.Call)
                and getattr(v.value.func, "id", None) == "id"
                for v in node.values
            ):
                problems.append(f"{rel}:{node.lineno} name built with id(...)")
    assert not problems, "\n".join(problems)
