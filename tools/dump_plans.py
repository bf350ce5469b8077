"""Generate PLANS.md: formatted physical plans for headline queries with the
scale-relevant properties called out (pushdown, broadcast, partial agg,
shuffle count). Run: python tools/dump_plans.py"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as E
from arcticdb_spark import get_spark

SHOW = ["filter_numeric", "groupby_tpch_q1", "resample_1h", "join_revenue",
        "asof_join", "dedup_minhash", "dedup_cluster", "similarity_bruteforce",
        "head", "decontaminate", "pack_chunks", "dup_ngram_fraction",
        "media_frame_sample", "skew_salted_agg"]


def props(plan: str) -> list[str]:
    out = []
    m = re.search(r"PushedFilters: \[([^\n]*)", plan)
    if m and m.group(1).strip() and not m.group(1).startswith("]"):
        out.append(f"pushed filters: `{m.group(1)[:120]}`")
    n_ex = plan.count("Exchange")
    out.append(f"shuffle exchanges: {n_ex}")
    if "BroadcastHashJoin" in plan:
        out.append(f"broadcast joins: {plan.count('BroadcastHashJoin')}")
    if "SortMergeJoin" in plan:
        out.append(f"sort-merge joins: {plan.count('SortMergeJoin')}")
    n_ha = plan.count("HashAggregate")
    if n_ha:
        out.append(f"hash aggregates: {n_ha} (partial+final pairs)")
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    if m:
        out.append(f"read schema (column pruning): `{m.group(1)[:160]}`")
    return out


def main():
    spark = get_spark("plan_dump")
    sf = "/root/testdata/sf0.01"
    qs = E.queries()
    lines = [
        "# PLANS — physical-plan audit of headline queries (sf0.01)",
        "",
        "Generated by `tools/dump_plans.py`. The properties that matter at",
        "100 TB are called out per query: Parquet filter pushdown, column",
        "pruning (ReadSchema), shuffle count, broadcast vs sort-merge joins,",
        "and two-phase (partial+final) aggregation.",
        ""]
    for name in SHOW:
        df = qs[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append(f"## {name}")
        lines.append("")
        for p in props(plan):
            lines.append(f"- {p}")
        lines.append("")
        lines.append("```")
        shown = "\n".join(plan.splitlines()[:40])
        lines.append(shown)
        lines.append("```")
        lines.append("")
    with open(REPO / "PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
