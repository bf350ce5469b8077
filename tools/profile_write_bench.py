"""Per-phase profile of the write bench (write_lineitem / append_events /
finalize_staged_10): wall + Spark job count per step, so the 2.3 s
finalize_staged_10 line can be attributed to its 11 library calls.

Usage: python tools/profile_write_bench.py [sf_dir]
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from arcticdb_spark import get_spark
from arcticdb_spark.catalog import Arctic
from arcticdb_spark.sources import tables as _tables


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("profile_write_bench")
    spark.range(1000).selectExpr("sum(id)").collect()
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()

    def timed(tag, fn):
        sc.setJobGroup(tag, tag)
        t0 = time.perf_counter()
        r = fn()
        dt = time.perf_counter() - t0
        jobs = len(tracker.getJobIdsForGroup(tag))
        print(f"{tag:28s} {dt:7.3f}s  jobs={jobs}", flush=True)
        return r

    for _pass in range(2):
        print(f"--- pass {_pass} ---")
        root = tempfile.mkdtemp(prefix="arctic_prof_")
        try:
            lib = Arctic(root, spark).create_library("bench")
            li = _tables.load_table(spark, sf_dir, "lineitem")
            timed("write_lineitem", lambda: lib.write(
                "li", li, index_column="l_shipdate"))

            ev = _tables.load_table(spark, sf_dir, "events")
            import pandas as pd
            lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
            cut_ts = (pd.Timestamp(lo)
                      + (pd.Timestamp(hi) - pd.Timestamp(lo)) * 0.8)
            lib.write("ev", ev.filter(F.col("ts") < cut_ts),
                      index_column="ts")
            tail = ev.filter(F.col("ts") >= cut_ts)
            timed("append_events", lambda: lib.append("ev", tail))

            chunks = ev.withColumn("__c",
                                   F.pmod(F.col("event_id"), F.lit(10)))
            for i in range(10):
                timed(f"stage_{i}", lambda i=i: lib.stage(
                    "staged", chunks.filter(F.col("__c") == i).drop("__c")))
            timed("finalize", lambda: lib.sort_and_finalize_staged_data(
                "staged"))
        finally:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
