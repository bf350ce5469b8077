"""Deterministic per-query cost shape: number of Spark JOBS each declared
query launches (build + one count action) and the Exchange count of its
final plan. Wall-clock on a noisy host swings +-45%; job counts do not —
this is the before/after evidence for driver-round-trip optimizations.

Usage: python tools/job_counts.py [sf_dir] [query ...]   (default sf0.01)
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as E
from arcticdb_spark import get_spark
from arcticdb_spark.extensions import dedup as xdedup
from arcticdb_spark.extensions import similarity as xsim


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] \
        else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]
    spark = get_spark("job_counts")
    spark.range(1000).selectExpr("sum(id)").collect()
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    out = {}
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        sc.setJobGroup(name, name)
        try:
            df = fn(spark, sf_dir)
            df.count()
            plan = df._jdf.queryExecution().executedPlan().toString()
            jobs = len(tracker.getJobIdsForGroup(name))
            out[name] = {"jobs": jobs, "exchanges": plan.count("Exchange")}
        except Exception as e:  # report, don't die
            out[name] = {"error": f"{type(e).__name__}: {e}"}
        finally:
            sc.setJobGroup("other", "other")
            xdedup.unpersist_all()
            xsim.unpersist_all()
        print(name, out[name], flush=True)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
