#!/usr/bin/env python
"""Mechanical anti-pattern audit over every headline query's EXECUTED
plan — the repo's one reader of headliner plans. Flags the shapes
that break at 100 TB:

- CartesianProduct / BroadcastNestedLoopJoin with a non-trivial build
  side (an unkeyed pair blowup; the only sanctioned instance is a
  broadcast of a literal/1-row relation);
- BatchEvalPython (row-at-a-time Python UDF — everything Python-side
  must be Arrow-batched: ArrowEvalPython / mapInPandas / applyInPandas
  / UDTF);
- parquet scans of the big fact tables (lineitem/orders/events)
  reading every column (no projection reached the scan).

Exit 1 with one line per violation; a clean run prints the audit
summary. Run after plan-affecting changes and before record refreshes:
    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINERS  # noqa: E402
from etl_service_spark.functions import portable as P  # noqa: E402
from etl_service_spark.plans.queries import registry, views  # noqa: E402
from etl_service_spark.session import get_spark  # noqa: E402

# fact tables whose full-width scan is never right; widths are read
# from the live schema so the audit tracks the testdata layout.
# documents/embeddings added round 10 (probed clean across all 264
# plans first): their wide columns (text, embedding) are the most
# expensive bytes in the corpus — a scan reading them for a
# metadata-only projection is the 100 TB mistake this rule exists for.
FACTS = ("lineitem", "orders", "events", "documents", "embeddings")
FULL_WIDTH: dict[str, int] = {}

def _marker_col(line: str) -> int | None:
    """Column of this line's tree marker (':-' or '+-'), or None for
    non-node lines."""
    m = re.search(r"[:+]- ", line)
    return m.start() if m else None


def _broadcast_build_subtrees(plan: str) -> list[str]:
    """The subtree under each BroadcastExchange that feeds a
    BroadcastNestedLoopJoin — the build side whose size decides whether
    the nested loop is a bounded expand or a pair blowup."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        col = _marker_col(line)
        if col is None:
            continue
        # owning join = nearest preceding node line at a strictly
        # smaller marker column (the direct parent); a no-marker line
        # is the plan root
        owner = None
        for j in range(i - 1, -1, -1):
            c = _marker_col(lines[j])
            if c is None and lines[j].strip() and not lines[j].startswith(" "):
                owner = lines[j]
                break
            if c is not None and c < col:
                owner = lines[j]
                break
        if owner is None or "BroadcastNestedLoopJoin" not in owner:
            continue
        sub = [line]
        for k in range(i + 1, len(lines)):
            c = _marker_col(lines[k])
            if c is not None and c <= col:
                break
            sub.append(lines[k])
        out.append("\n".join(sub))
    return out


def _bounded(subtree: str) -> bool:
    """A broadcast build side is bounded iff it scans no table files
    (literal Range/Union/LocalTableScan), reduces whatever it scans
    through a GLOBAL aggregate (keys=[] -> exactly one row), or is
    capped by an explicit row Limit (GlobalLimit/LocalLimit — a
    constant bound by construction, e.g. the broadcast query set of
    the ANN brute-force baselines)."""
    if "Scan parquet" not in subtree and "FileScan" not in subtree:
        return True
    if "HashAggregate(keys=[]" in subtree:
        return True
    # A row Limit caps the build ONLY if nothing above it can re-expand
    # or merge branches (limit-then-join / limit-below-explode would
    # still be unbounded): require the Limit line to appear before any
    # join/generate/expand/union line in the root-first subtree text.
    lines = subtree.splitlines()
    limit_idx = next(
        (i for i, ln in enumerate(lines) if "GlobalLimit" in ln or "LocalLimit" in ln),
        None,
    )
    if limit_idx is None:
        return False
    above = "\n".join(lines[:limit_idx])
    return not any(w in above for w in ("Join", "Generate", "Expand", "Union"))


# Grouping keys whose value domain is BOUNDED BY CONSTRUCTION — an
# aggregate keyed on (a subset of) these yields a constant-size
# relation no matter the data mass, so a single-partition window over
# it is the sanctioned offsets/cumsum shape (operators/scan.py module
# docstring), not a scale-killer:
#   _pid        — spark_partition_id() of an explicit repartition:
#                 <= n_parts rows (the two-phase scan offsets pass);
#   zval        — 16-bit Morton code of two 8-bit quantized dims:
#                 <= 65,536 (layout_zorder_skipping; domain pinned by
#                 tests/test_properties.py::test_zorder_quantized_domains);
#   qd          — one 8-bit quantized dim of the same scorer: <= 256;
#   first_digit — one character of a positive integer's rendering:
#                 <= 9 values (Benford audit);
#   arm         — A/B experiment arm: 2 values.
BOUNDED_WINDOW_KEYS = frozenset({"_pid", "zval", "qd", "first_digit", "arm"})

# Ambiguously-named keys sanctioned for SPECIFIC queries only (the
# name is generic enough that a global entry could mask a real
# violation elsewhere — the round-9 verdict moved `source`/`lang`
# here from the global set for exactly that reason: they are
# catalog-bounded vocabularies IN THESE QUERIES, but a future query
# windowing over an unbounded column that happens to share the name
# must not pass silently):
#   dedup_threshold_curve.bucket — similarity-threshold decile:
#     <= 10 values by the FLOOR(sim*10) construction;
#   emb_whitening_stats.i — embedding dimension index: bounded by the
#     (fixed) vector length;
#   *.source / *.lang — corpus catalog vocabularies (data-source
#     labels, language codes): grow with the CATALOG, not the corpus
#     mass (mixture/budget reports are per-source by definition).
_CATALOG_KEYS = frozenset({"source", "lang"})
SANCTIONED_WINDOW_KEYS: dict[str, frozenset] = {
    "dedup_threshold_curve": frozenset({"bucket"}),
    "emb_whitening_stats": frozenset({"i"}),
    # catalog-bounded global windows (SUM(...) OVER () totals over the
    # per-source / per-lang aggregate — a few hundred rows at any
    # corpus mass); each consumer is named so a FUTURE query windowing
    # over an unbounded column merely named `source` still fails
    "corpus_resample_plan": _CATALOG_KEYS,
    "corpus_temperature_mixture": _CATALOG_KEYS,
    "corpus_token_budget": _CATALOG_KEYS,
    "corpus_token_budget_bpe": _CATALOG_KEYS,
    "corpus_dsir_quota": _CATALOG_KEYS,
    # found by the FIRST full-registry audit (round 10 — these plans
    # were in bench.EXCLUDED and had never been machine-audited):
    "corpus_mixture_sample": _CATALOG_KEYS,
    "corpus_source_composition": _CATALOG_KEYS,
    # text_vocab_growth.bucket — corpus decile index from integer math
    # over the doc_id domain: <= n_buckets (10) values by construction
    "text_vocab_growth": frozenset({"bucket"}),
}

# SortAggregate prints "key=[...]" (singular); the hash variants
# "keys=[...]". output=[...] can be absent on truncated lines.
_AGG_RE = re.compile(
    r"(?:Hash|Sort|ObjectHash)Aggregate\(keys?=\[([^\]]*)\](?:.*?output=\[([^\]]*)\])?"
)
_KEYNAME_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)#\d+")


def _toplevel_split(s: str) -> list[str]:
    """Split an expression list on commas outside parentheses."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            depth += ch in "([" or -(ch in ")]")
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return [p for p in out if p]


def _agg_key_names(keys_str: str, output_str: str) -> set[str]:
    """Base column names of an aggregate's grouping keys. Expression
    keys are planned as an opaque ``_groupingexpression`` alias — for
    those, use the aggregate's output columns instead: the grouping
    outputs lead the output list positionally, under their SQL-visible
    aliases (e.g. keys=[_groupingexpression] output=[qd, c] -> qd)."""
    keys = _toplevel_split(keys_str)
    names = set()
    outs = _toplevel_split(output_str or "")
    for i, k in enumerate(keys):
        base = _KEYNAME_RE.findall(k)
        if any(n.startswith("_groupingexpression") for n in base) and i < len(outs):
            base = _KEYNAME_RE.findall(outs[i])
        names.update(base)
    return names


# Nodes the window input-chain walk may step THROUGH: each preserves
# its child's partitioning (projection/filter/sort/window chains, row
# expanders, and the AQE / codegen wrapper nodes that appear in final
# adaptive plans). Anything NOT listed fails CLOSED (ADVICE r9: the
# walk used to fail open — an unrecognized node made the plan pass
# unflagged, which is how the audit class this rule exists for could
# slip back in under a plan shape outside the list).
_WALK_PASSTHROUGH = (
    "Window", "WindowGroupLimit", "Sort ", "Project", "Filter", "Coalesce",
    "Generate", "Expand",
    # Arrow-batched Python map stages preserve their child's
    # partitioning (they are per-partition maps, not repartitioners)
    "MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas",
    "MapInArrow", "PythonMapInArrow",
    # AQE / execution wrappers (final adaptive plans)
    "AQEShuffleRead", "ShuffleQueryStage", "BroadcastQueryStage",
    "ResultQueryStage", "TableCacheQueryStage", "InputAdapter",
    "WholeStageCodegen", "ColumnarToRow", "AdaptiveSparkPlan",
)
# Nodes that DECIDE the window is distributed / differently-sourced:
# a partitioned exchange, or any node at which partitioning was
# settled upstream of a sort exchange.
_WALK_DECIDERS = ("Join", "Aggregate", "Scan", "Union")


def _subtree_bounded(name: str, sub: list[str]) -> bool:
    """Is the relation under a SinglePartition exchange provably
    bounded? Bounded = scans no table at all (literal/local relation),
    is capped by an explicit row limit before any branch merge, or its
    first aggregate is keyed entirely by sanctioned bounded-domain
    keys (a keys=[] global aggregate is 1 row)."""
    subtree = "\n".join(sub)
    if not any(w in subtree for w in ("Scan parquet", "FileScan", "ExistingRDD")):
        return True  # literal/local relation — bounded
    allowed = BOUNDED_WINDOW_KEYS | SANCTIONED_WINDOW_KEYS.get(name, frozenset())
    for ln in sub:
        if "TakeOrderedAndProject" in ln or "GlobalLimit" in ln:
            return True  # row count capped by an explicit limit
        if "Join" in ln:
            return False  # branches merge before any aggregate — unbounded
        m = _AGG_RE.search(ln)
        if m:
            keys = _agg_key_names(m.group(1), m.group(2))
            return not m.group(1).strip() or (bool(keys) and keys <= allowed)
    return False


def window_violations(name: str, plan: str) -> list[str]:
    """Round-8 verdict #2: flag every Window whose input arrives
    through an Exchange SinglePartition over a relation that is not
    provably bounded — the one anti-pattern class the round-8 audit
    missed in all six of the verdict's 'weak' plans. A window's input
    chain is walked downward through pass-through nodes; hitting any
    partitioned Exchange / Join first means the window is distributed
    (fine). A SinglePartition input is sanctioned only if the relation
    below the exchange is provably bounded (_subtree_bounded). The
    walk FAILS CLOSED: an unrecognized node between a Window and its
    partitioning decision is itself flagged for manual review rather
    than silently passing (ADVICE r9), and a ReusedExchange of a
    SinglePartition exchange is resolved by checking every non-reused
    SinglePartition subtree in the plan (its referent is one of them)."""
    lines = plan.splitlines()
    bad = []
    for i, line in enumerate(lines):
        if not re.search(r"(^|[:+]- )Window(GroupLimit)? \[", line):
            continue
        col = _marker_col(line)
        col = -1 if col is None else col
        # walk the input chain until the node that decides partitioning
        exch_idx = exch_col = None
        reused_single = False
        skip_past: int | None = None  # marker col of a Subquery being skipped
        for j in range(i + 1, len(lines)):
            cj = _marker_col(lines[j])
            if cj is None or cj <= col:
                break
            node = lines[j]
            # a Subquery/ReusedSubquery branch is an EXPRESSION
            # attachment (scalar subquery) printed as a child — it is
            # not the window's data input; skip its whole subtree
            if skip_past is not None:
                if cj > skip_past:
                    continue
                skip_past = None
            if re.search(r"(^|[:+]- )(Reused)?Subquery ", node):
                skip_past = cj
                continue
            if "ReusedExchange" in node:
                # leaf reference to an exchange defined elsewhere in the
                # plan; a SinglePartition referent must be bound-checked
                # against the non-reused originals
                reused_single = "SinglePartition" in node
                break
            if "Exchange SinglePartition" in node:
                exch_idx, exch_col = j, cj
                break
            if re.search(r"(^|[:+]- )Exchange ", node) or "BroadcastExchange" in node:
                break  # partitioned input — distributed window
            if any(w in node for w in _WALK_DECIDERS):
                break  # partitioning decided elsewhere; no sort exchange
            if not any(w in node for w in _WALK_PASSTHROUGH):
                bad.append(
                    f"{name}: window input-chain walk stopped on unknown node "
                    f"'{node.strip()[:60]}' — fail-closed, extend "
                    "_WALK_PASSTHROUGH/_WALK_DECIDERS only after a manual read"
                )
                break
        if reused_single:
            # conservative resolution: the referent is SOME non-reused
            # SinglePartition exchange in this plan — require ALL to be
            # bounded for the reuse to pass
            originals = [
                (j, _marker_col(lines[j]))
                for j, ln in enumerate(lines)
                if "Exchange SinglePartition" in ln
                and "ReusedExchange" not in ln
            ]
            for j, jcol in originals:
                sub = []
                for m_ in range(j + 1, len(lines)):
                    cm = _marker_col(lines[m_])
                    if cm is None or (jcol is not None and cm <= jcol):
                        break
                    sub.append(lines[m_])
                if not _subtree_bounded(name, sub):
                    bad.append(
                        f"{name}: Window over ReusedExchange of a "
                        "SinglePartition exchange whose original subtree is "
                        f"unbounded ({line.strip()[:60]}...)"
                    )
                    break
            if not originals:
                bad.append(
                    f"{name}: Window over ReusedExchange[SinglePartition] "
                    "with no resolvable original — manual review"
                )
            continue
        if exch_idx is None:
            continue
        # bounding check below the single-partition exchange
        sub = []
        for j in range(exch_idx + 1, len(lines)):
            cj = _marker_col(lines[j])
            if cj is None or cj <= exch_col:
                break
            sub.append(lines[j])
        if not _subtree_bounded(name, sub):
            bad.append(
                f"{name}: Window over Exchange SinglePartition on an unbounded "
                f"relation ({line.strip()[:70]}...)"
            )
    return bad


BASELINE_PATH = os.path.join(REPO, "tools", "plan_baseline.json")


def exchange_counts(plan: str) -> dict[str, int]:
    """(shuffle, broadcast) exchange counts of a plan string. Shuffle =
    'Exchange <partitioning>' nodes; 'BroadcastExchange' contains the
    substring 'Exchange' and must not be double-counted."""
    shuffles = sum(
        1
        for ln in plan.splitlines()
        if re.search(r"(^|[:+]- )Exchange ", ln) and "BroadcastExchange" not in ln
    )
    broadcasts = sum(1 for ln in plan.splitlines() if "BroadcastExchange" in ln)
    return {"shuffles": shuffles, "broadcasts": broadcasts}


def check_exchanges(
    name: str, counts: dict[str, int], baseline: dict[str, dict[str, int]]
) -> list[str]:
    """Regression guard (round-4 VERDICT #6): the anti-pattern scan
    can't see a refactor that grows 1 shuffle into 3 — each query's
    expected Exchange/Broadcast counts are recorded from its current
    clean plan and any INCREASE fails the audit (a decrease is an
    improvement: rerecord with --update). New queries without a
    recorded row are reported for recording, not failed."""
    base = baseline.get(name)
    if base is None:
        return []
    bad = []
    for kind in ("shuffles", "broadcasts"):
        if counts[kind] > base[kind]:
            bad.append(
                f"{name}: {kind} regressed {base[kind]} -> {counts[kind]} "
                "(unplanned exchange; rerecord with --update only if intended)"
            )
    return bad


# Queries ALLOWED to carry a UnionLoop (recursive CTE, Spark 4.1+).
# Fail-closed sanction list, same policy as SANCTIONED_WINDOW_KEYS: a
# UnionLoop's body is a LOGICAL subtree re-planned at runtime each
# iteration, so the static physical rules (join strategy, scan width,
# exchange counts) cannot see it — every recursive query needs a
# human-reviewed entry stating why its loop body is safe.
RECURSIVE_SANCTIONED: dict[str, str] = {
    "ana_hierarchy_tree_recursive": (
        "bounded 4-level walk over config-scale dims; loop body is one "
        "equi-join of the edge union against the frontier (reviewed "
        "round 11); value-pinned to the closed-form oracle"
    ),
}


def unionloop_violations(name: str, plan: str) -> list[str]:
    """Fail-closed audit of recursive-CTE (UnionLoop) plans."""
    if "UnionLoop" not in plan:
        return []
    bad = []
    # a condition-less logical Join in the loop body is a hidden
    # cartesian — flag it even for sanctioned queries
    for m in re.finditer(r"\bJoin\s+(\w+)(.*)", plan):
        if "(" not in m.group(2):
            bad.append(
                f"{name}: condition-less Join inside a UnionLoop body "
                "(hidden cartesian — the loop re-plans it every iteration)"
            )
    if name not in RECURSIVE_SANCTIONED:
        bad.append(
            f"{name}: UnionLoop (recursive CTE) without a sanction — the "
            "loop body is re-planned per iteration and invisible to the "
            "static audit; review it and add a RECURSIVE_SANCTIONED entry "
            "(fail-closed)"
        )
    return bad


def audit_one(name: str, plan: str) -> list[str]:
    bad = []
    if "CartesianProduct" in plan:
        bad.append(f"{name}: CartesianProduct in executed plan")
    bad.extend(unionloop_violations(name, plan))
    for sub in _broadcast_build_subtrees(plan):
        if not _bounded(sub):
            bad.append(
                f"{name}: BroadcastNestedLoopJoin with unbounded build side "
                f"({sub.splitlines()[0][:70]}...)"
            )
    if "BatchEvalPython" in plan:
        bad.append(f"{name}: row-at-a-time BatchEvalPython (non-Arrow UDF)")
    bad.extend(window_violations(name, plan))
    for fact in FACTS:
        for m in re.finditer(
            rf"FileScan parquet \[([^\]]*)\][^\n]*{fact}\.parquet", plan
        ):
            ncols = len([c for c in m.group(1).split(",") if c.strip()])
            if ncols >= FULL_WIDTH[fact]:
                bad.append(
                    f"{name}: full-width {fact} scan ({ncols} cols — projection "
                    "did not reach the scan)"
                )
    return bad


FULL_RECORD_PATH = os.path.join(REPO, "PLAN_AUDIT_FULL.json")


def main() -> int:
    import json

    args = [a for a in sys.argv[1:] if a not in ("--update", "--full")]
    update = "--update" in sys.argv[1:]
    # --full audits EVERY registry plan (headliners + bench.EXCLUDED)
    # and writes PLAN_AUDIT_FULL.json — the one-off record closing the
    # round-9 blind spot: the excluded entries' executed plans had
    # never been through the window rule (VERDICT r9 "what's wrong" #1)
    full = "--full" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    cases = registry()
    views(spark, sf_dir)
    P.warm_udfs(spark)
    for fact in FACTS:
        FULL_WIDTH[fact] = len(spark.table(fact).columns)
    # exchange baseline is sf-specific (broadcast-vs-shuffle join picks
    # depend on planning-time size stats): one baseline entry PER sf,
    # and a missing entry for the audited sf is a hard failure — a CI
    # default-sf change must not silently disable the regression guard
    # (round-5 advisor finding).
    baseline: dict = {}
    per_sf: dict[str, dict] = {}
    missing_baseline = False
    if os.path.exists(BASELINE_PATH):
        with open(BASELINE_PATH) as fh:
            rec = json.load(fh)
        # migrate the legacy single-sf shape {sf_dir, counts} in place
        per_sf = rec.get("baselines") or (
            {rec["sf_dir"]: rec.get("counts", {})} if rec.get("sf_dir") else {}
        )
        baseline = per_sf.get(sf_dir, {})
        if not baseline and not update:
            missing_baseline = True
    violations: list[str] = []
    recorded: dict[str, dict[str, int]] = {}
    unrecorded: list[str] = []
    names = list(cases) if full else HEADLINERS
    for name in names:
        df = cases[name].spark(spark, sf_dir)
        # executedPlan without running AQE re-plan; good enough for the
        # static anti-patterns this audit targets
        plan = df._jdf.queryExecution().executedPlan().toString()
        violations.extend(audit_one(name, plan))
        counts = exchange_counts(plan)
        recorded[name] = counts
        # exchange-count regression guard stays a HEADLINER artifact
        # (baseline rows exist for headliners); --full still runs every
        # anti-pattern rule on the excluded plans
        violations.extend(check_exchanges(name, counts, baseline))
        if baseline and not full and name not in baseline:
            unrecorded.append(name)
    spark.stop()
    if full:
        with open(FULL_RECORD_PATH, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_audited": len(names),
                    "n_headliners": len(HEADLINERS),
                    "n_excluded": len(names) - len(HEADLINERS),
                    "violations": violations,
                    "exchange_counts": recorded,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")
        print(f"full-registry audit record written: {FULL_RECORD_PATH}")
    if update:
        per_sf[sf_dir] = recorded
        with open(BASELINE_PATH, "w") as fh:
            json.dump({"baselines": per_sf}, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"exchange baseline recorded: {len(recorded)} queries @ {sf_dir}")
    elif missing_baseline:
        violations.append(
            f"no exchange baseline recorded for {sf_dir} — the regression "
            "guard did not run; record one with --update"
        )
    elif unrecorded:
        print(f"note: {len(unrecorded)} new queries lack an exchange baseline "
              f"({', '.join(unrecorded[:5])}...): run with --update")
    if violations:
        print(f"PLAN AUDIT: {len(violations)} violation(s)")
        for v in violations:
            print("  " + v)
        return 1
    print(
        f"plan audit clean: {len(names)} "
        + ("registry" if full else "headline")
        + " queries, 0 anti-patterns"
        + (f", exchange counts vs baseline OK ({len(baseline)})" if baseline else "")
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
