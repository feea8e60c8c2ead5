#!/usr/bin/env python
"""Lint every registry oracle's OUTPUT schema against DuckDB.

The driver's value hash is arrow-type-sensitive: a DuckDB `SUM(BIGINT)`
left uncast in the final SELECT is HUGEINT (int128), which hashes
differently from Spark's BIGINT even when every value matches
(DETERMINISM.md rule: wrap in CAST(... AS BIGINT)). Round 3 proved the
failure mode — all 6 driver-red queries, and only those, had a HUGEINT
output column. This lint makes the rule mechanical: DESCRIBE each
oracle (schema-only, no execution) and fail on any HUGEINT / UHUGEINT
output column. Interior HUGEINT arithmetic inside CTEs is fine — only
the final projection is checked, which is exactly what DESCRIBE shows.

Run: python tools/oracle_lint.py          (also wired into pytest via
tests/test_correctness.py::test_oracle_output_types_lint)
Exit code 1 on any offending column; prints query/column/type lines.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

BANNED = ("HUGEINT", "UHUGEINT")


def lint(sf_dir: str = "/root/testdata/sf0.001") -> list[str]:
    """Returns a list of 'query.column: TYPE' offenders (empty == clean)."""
    from harness import duck_connect

    from etl_service_spark.plans.queries import registry

    con = duck_connect(sf_dir)
    problems: list[str] = []
    for name, case in registry().items():
        try:
            desc = con.execute(f"DESCRIBE {case.oracle}").fetchall()
        except Exception as e:  # noqa: BLE001 — surface as a lint failure
            problems.append(f"{name}: DESCRIBE failed: {e}")
            continue
        for col, typ, *_ in desc:
            if any(b in typ.upper() for b in BANNED):
                problems.append(f"{name}.{col}: {typ}")
    return problems


def main() -> int:
    problems = lint(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
    for p in problems:
        print(p)
    print(f"oracle_lint: {len(problems)} offending output columns")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
