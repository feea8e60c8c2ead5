"""Every registry query must hash-match its DuckDB oracle (the same
check the driver runs at sf0.01)."""

from __future__ import annotations

import pytest

from etl_service_spark.plans.queries import registry

from .harness import run_case

CASES = registry()


@pytest.mark.parametrize("name", sorted(CASES))
def test_query_matches_oracle(spark, sf_dir, name):
    case = CASES[name]
    problems = run_case(spark, sf_dir, case.spark, case.oracle)
    assert not problems, f"{name}: " + " | ".join(problems)


def test_oracle_output_types_lint(sf_dir):
    """No registry oracle may expose a HUGEINT/UHUGEINT output column:
    DuckDB widens SUM(BIGINT) to int128, which arrow-hashes differently
    from Spark's BIGINT even with identical values (round 3's only
    failure class — DETERMINISM.md's CAST rule, now enforced)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from oracle_lint import lint

    problems = lint(sf_dir)
    assert not problems, problems


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "revenue" in df.columns


def test_bench_partition_covers_registry():
    """The bench's no-silent-caps invariant: every registry query is
    either a standing headliner or an explicitly-excluded entry WITH a
    stated reason — a new registry entry that lands in neither list
    fails here, and `python bench.py --full` (BENCH_FULL.json) times
    both sides."""
    import bench
    from etl_service_spark.plans.queries import registry

    names = set(registry())
    headliners = set(bench.HEADLINERS)
    excluded = set(bench.EXCLUDED)
    assert len(bench.HEADLINERS) == len(headliners)  # no duplicate rows
    assert not headliners & excluded, sorted(headliners & excluded)
    assert headliners | excluded == names, {
        "unlisted": sorted(names - headliners - excluded),
        "phantom": sorted((headliners | excluded) - names),
    }
    assert all(reason.strip() for reason in bench.EXCLUDED.values())


def test_bench_records_jobs_and_stages(spark, sf_dir):
    """The bench's timing pass also records each query's Spark job and
    stage count (status-tracker delta, read outside the timed window):
    every registry query runs at least one job, and every job at least
    one stage."""
    import bench
    from etl_service_spark.plans.queries import views

    names = ["tpch_q6_forecast_revenue", "tpch_q3_shipping"]
    assert set(names) <= set(bench.HEADLINERS)
    views(spark, sf_dir)
    runs = bench._run_pass(CASES, names, spark, sf_dir, repeats=2)
    assert list(runs) == names
    for name, (wall, jobs, stages) in runs.items():
        assert wall > 0 and jobs >= 1 and stages >= jobs, (name, runs[name])


def test_bench_rejects_sf_dir_without_scale_before_spark(monkeypatch, tmp_path):
    """The scale factor is parsed from the directory name before the
    session starts: a path without ``sf<number>`` exits naming the path
    instead of failing after both timed passes with no record written."""
    import bench

    def no_spark(*_a, **_k):
        raise AssertionError("get_spark called before the sf_dir check")

    monkeypatch.setattr(bench, "get_spark", no_spark)
    monkeypatch.setattr("sys.argv", ["bench.py"])
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/tpch")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_OUT", str(tmp_path / "b.json"))
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert "/data/tpch" in str(exc.value)
    assert not (tmp_path / "b.json").exists()


def test_bench_is_the_only_registry_timer():
    """One measurement path: ``bench._run_pass`` is the only code that
    times registry queries. Among ``tools/*.py`` and ``bench.py``, only
    ``bench.py`` both references ``registry`` and reads a clock
    (``time.perf_counter``/``monotonic``/``time``) or the Spark status
    tracker; per-query wall, job and stage counts come from its record."""
    import ast
    import glob
    import os

    clocks = {"perf_counter", "monotonic", "time"}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def registry_and_clock(path: str) -> bool:
        with open(path) as fh:
            nodes = list(ast.walk(ast.parse(fh.read())))
        registry = any(
            (isinstance(n, ast.Name) and n.id == "registry")
            or (isinstance(n, ast.Attribute) and n.attr == "registry")
            or (isinstance(n, ast.alias) and n.name == "registry")
            for n in nodes
        )
        clock = any(
            (isinstance(n, ast.Attribute) and n.attr == "statusTracker")
            or (
                isinstance(n, ast.Attribute)
                and n.attr in clocks
                and isinstance(n.value, ast.Name)
                and n.value.id == "time"
            )
            or (
                isinstance(n, ast.ImportFrom)
                and n.module == "time"
                and any(a.name in clocks for a in n.names)
            )
            for n in nodes
        )
        return registry and clock

    paths = [os.path.join(repo, "bench.py")] + sorted(
        glob.glob(os.path.join(repo, "tools", "*.py"))
    )
    timers = [
        os.path.splitext(os.path.basename(p))[0] for p in paths if registry_and_clock(p)
    ]
    assert timers == ["bench"], timers


def test_registry_has_no_per_query_catalog_plumbing():
    """Temp views are registered in one place, the adapter that turns a
    ``build(spark)`` into ``Case.spark(spark, sf_dir)``: no query in
    ``registry()`` calls ``views()`` or sees ``sf_dir``, and no nested
    ``def`` only forwards to an operator (``return mod.fn(spark)``),
    which the adapter takes directly."""
    import ast
    import inspect

    from etl_service_spark.plans import queries

    tree = ast.parse(inspect.getsource(queries.registry))
    root = tree.body[0]
    nodes = list(ast.walk(root))
    views_calls = [
        n.lineno
        for n in nodes
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name) and n.func.id == "views"
    ]
    sf_dir = [
        n.lineno
        for n in nodes
        if (isinstance(n, ast.Name) and n.id == "sf_dir")
        or (isinstance(n, ast.arg) and n.arg == "sf_dir")
    ]

    def forwards(f: ast.FunctionDef) -> bool:
        body = [s for s in f.body if not (isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant))]
        if len(body) != 1 or not isinstance(body[0], ast.Return):
            return False
        call = body[0].value
        return (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and isinstance(call.func.value, ast.Name)
            and not call.keywords
            and [ast.dump(a) for a in call.args] == [ast.dump(ast.Name("spark", ast.Load()))]
        )

    pass_through = [
        n.name for n in nodes if isinstance(n, ast.FunctionDef) and n is not root and forwards(n)
    ]
    assert not views_calls, f"views() called in registry() at lines {views_calls}"
    assert not sf_dir, f"sf_dir in registry() at lines {sf_dir}"
    assert not pass_through, pass_through


def test_fp_chain_has_one_definition():
    """The embedding kernels' bit-exact contract is the oracle's
    left-associated 64-term chain, written out once: among the
    top-level functions under ``etl_service_spark/``, only
    ``similarity.np_norms`` and ``similarity.np_dots`` may loop ``for
    ... in range(1, DIM)``. A hand-written copy elsewhere could drift
    from the oracle's operation order and silently break parity."""
    import ast
    import glob
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etl_service_spark")

    def chain_loop(n: ast.AST) -> bool:
        it = n.iter if isinstance(n, (ast.For, ast.comprehension)) else None
        return (
            isinstance(it, ast.Call)
            and isinstance(it.func, ast.Name)
            and it.func.id == "range"
            and len(it.args) == 2
            and isinstance(it.args[0], ast.Constant)
            and it.args[0].value == 1
            and (
                (isinstance(it.args[1], ast.Name) and it.args[1].id == "DIM")
                or (isinstance(it.args[1], ast.Attribute) and it.args[1].attr == "DIM")
            )
        )

    findings = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for top in tree.body:
            name = getattr(top, "name", f"{os.path.basename(path)}:{top.lineno}")
            if name not in ("np_norms", "np_dots") and any(chain_loop(n) for n in ast.walk(top)):
                findings.append(name)
    assert not findings, findings


def test_plan_audit_flags_single_partition_windows(spark, sf_dir):
    """The round-9 audit rule end-to-end: an unpartitioned NTILE over
    a fact table (the pre-fix layout_zorder_skipping / RFM shape)
    MUST be flagged as Window-over-Exchange-SinglePartition, while the
    sanctioned bounded forms — the two-phase scan's n_parts offsets
    window and a window over a bounded-domain aggregate — must pass.
    Guards the audit itself: it machine-checked 198 plans in round 8
    and caught none of the six, because the class was not in its
    pattern list."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_audit import window_violations

    from etl_service_spark.plans.queries import views

    views(spark, sf_dir)
    prefix = spark.sql(
        "SELECT NTILE(64) OVER (ORDER BY o_custkey, o_orderkey) AS f FROM orders"
    )
    plan = prefix._jdf.queryExecution().executedPlan().toString()
    assert window_violations("prefix_ntile", plan), "pre-fix shape not flagged"

    from etl_service_spark.operators.scan import global_ranked_cumsum

    fixed = global_ranked_cumsum(
        spark.table("orders").selectExpr(
            "o_custkey", "CAST(o_orderkey AS BIGINT) AS w"
        ),
        "w",
        "o_custkey",
    )
    plan = fixed._jdf.queryExecution().executedPlan().toString()
    assert window_violations("two_phase", plan) == [], "offsets pass wrongly flagged"


def test_window_rule_source_key_is_per_query(spark, sf_dir):
    """Round-9 verdict hygiene #2: `source`/`lang` moved from the
    global BOUNDED_WINDOW_KEYS to per-query sanctions — a window over
    an UNBOUNDED column that merely happens to be named `source` must
    FAIL the rule for any query without its own sanction entry, and
    pass only under a sanctioned name."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_audit import SANCTIONED_WINDOW_KEYS, window_violations

    from etl_service_spark.plans.queries import views

    views(spark, sf_dir)
    # per-user_id aggregate masquerading under the name `source`:
    # |keys| rows — unbounded in data mass, whatever the column is called
    df = spark.sql(
        """
        SELECT source, n, SUM(n) OVER () AS tot FROM (
          SELECT source, COUNT(*) AS n FROM (
            SELECT CONCAT('u', user_id) AS source FROM events
          ) GROUP BY source
        )
        """
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert window_violations("some_new_query", plan), (
        "unbounded window keyed by a column named `source` passed for an "
        "unsanctioned query — the per-query sanction policy regressed"
    )
    assert "source" in SANCTIONED_WINDOW_KEYS["corpus_resample_plan"]
    assert window_violations("corpus_resample_plan", plan) == []


def test_window_rule_walk_fails_closed():
    """ADVICE r9: an unrecognized node between a Window and its
    partitioning decision must be FLAGGED for manual review, not
    silently passed (the walk used to fail open — any plan shape
    outside the pass-through list disabled the rule)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_audit import window_violations

    plan = "\n".join(
        [
            "Window [sum(x#1L) windowspecdefinition(...)]",
            "+- SomeFutureNode mystery",
            "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS",
            "      +- FileScan parquet [x#1L] ... events.parquet",
        ]
    )
    flags = window_violations("q", plan)
    assert flags and "fail-closed" in flags[0], flags


def test_unionloop_rule_fails_closed():
    """Round-10 verdict #5: a recursive-CTE (UnionLoop) plan's loop
    body is re-planned per iteration and invisible to the static
    audit, so an UNSANCTIONED UnionLoop must be flagged, a sanctioned
    one passes, and a condition-less Join inside the body (hidden
    cartesian) is flagged even for sanctioned queries."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_audit import RECURSIVE_SANCTIONED, unionloop_violations

    plan = "\n".join(
        [
            "UnionLoop 1, [node#1, lvl#2]",
            "   :- Project [...]",
            "   +- Join Inner, (parent#3 = node#4)",
            "      +- UnionLoopRef 1, [node#4], false",
        ]
    )
    assert unionloop_violations("some_new_recursive_query", plan), (
        "unsanctioned UnionLoop passed the audit — the fail-closed rule regressed"
    )
    assert "ana_hierarchy_tree_recursive" in RECURSIVE_SANCTIONED
    assert unionloop_violations("ana_hierarchy_tree_recursive", plan) == []
    cartesian = plan.replace("Join Inner, (parent#3 = node#4)", "Join Inner")
    flags = unionloop_violations("ana_hierarchy_tree_recursive", cartesian)
    assert flags and "condition-less" in flags[0], flags


def test_full_plan_audit_record_covers_registry():
    """Round-9 verdict #1: the committed full-registry audit record
    (PLAN_AUDIT_FULL.json, written by `plan_audit.py --full`) must be
    violation-free and cover EXACTLY the current registry — a new
    registry entry without a full-audit re-run fails here, the same
    no-silent-caps discipline as the bench partition test."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "PLAN_AUDIT_FULL.json")
    assert os.path.exists(path), "run `python tools/plan_audit.py --full`"
    with open(path) as fh:
        rec = json.load(fh)
    assert rec["violations"] == [], rec["violations"]
    audited = set(rec["exchange_counts"])
    names = set(registry())
    assert audited == names, {
        "unaudited": sorted(names - audited),
        "stale": sorted(audited - names),
    }


def test_codegen_sweep_record_covers_registry():
    """Round-10 verdict #1: the committed codegen-fallback sweep record
    (CODEGEN_SWEEP.json, written by `tools/codegen_sweep.py`) must show
    zero unexpected `ERROR CodeGenerator` fallbacks, every allowlist
    entry must still be firing (a cured query must leave the
    allowlist), and the sweep must cover EXACTLY the current registry —
    a new registry entry without a sweep re-run fails here. This pins
    the discipline that caught ann_range_search (r10) and
    ann_ivfpq_recall (r11) silently running interpreted: the next 64 KB
    Janino overflow cannot land without tripping CI."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "CODEGEN_SWEEP.json")
    assert os.path.exists(path), "run `python tools/codegen_sweep.py`"
    with open(path) as fh:
        rec = json.load(fh)
    assert rec["clean"] and rec["unexpected"] == {}, rec["unexpected"]
    stale_allow = set(rec["allowlist"]) - set(rec["allowlisted_hits"])
    assert not stale_allow, f"allowlist entries no longer firing: {sorted(stale_allow)}"
    audited = set(rec["audited"])
    names = set(registry())
    assert audited == names, {
        "unswept": sorted(names - audited),
        "stale": sorted(audited - names),
    }
