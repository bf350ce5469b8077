"""Ad-hoc smoke: exercise expr/query/resample/catalog against sf0.001."""
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import pandas as pd
from arcticdb_spark import get_spark, QueryBuilder, Arctic
from arcticdb_spark.operators.resample import resample

spark = get_spark()
SF = "/root/testdata/sf0.001"

from arcticdb_spark.sources import load_table
li = load_table(spark, SF, "lineitem")
ev = load_table(spark, SF, "events")

# 1. filter + project
q = QueryBuilder()
q = q[(q["l_quantity"] > 30) & (q["l_returnflag"].isin("A", "N"))]
q = q.apply("revenue", q["l_extendedprice"] * (1 - q["l_discount"]))
out = q.to_df(li)
print("filter+project rows:", out.count())

# 2. groupby agg
q2 = QueryBuilder().groupby("l_returnflag").agg(
    {"sum_qty": ("l_quantity", "sum"), "n": ("l_quantity", "count"),
     "avg_price": ("l_extendedprice", "mean")})
q2.to_df(li).show()

# 3. resample events hourly
r = resample(ev, "ts", "1h", {"n": ("value", "count"), "v": ("value", "sum"),
                              "first_v": ("value", "first"), "last_v": ("value", "last")})
print("resample buckets:", r.count())
r.show(3)

# pandas oracle for resample
pdf = ev.select("ts", "value").toPandas().set_index("ts")
pr = pdf.resample("1h").agg(n=("value", "count"), v=("value", "sum"),
                            first_v=("value", "first"), last_v=("value", "last"))
pr = pr[pr["n"] > 0]
mine = r.toPandas().set_index("ts").sort_index()
import numpy as np
assert len(pr) == len(mine), (len(pr), len(mine))
assert np.allclose(pr["v"].values, mine["v"].values), "sum mismatch"
assert np.allclose(pr["first_v"].values, mine["first_v"].values), "first mismatch"
assert np.allclose(pr["last_v"].values, mine["last_v"].values), "last mismatch"
print("resample matches pandas ✓")

# 4. head/tail/row_range standalone
q3 = QueryBuilder().date_range((pd.Timestamp("2024-01-02"), pd.Timestamp("2024-01-03")))
print("date_range rows:", q3.to_df(ev, index_column="ts").count())
print("head:", QueryBuilder().head(7).to_df(ev, "ts").count(),
      "tail:", QueryBuilder().tail(7).to_df(ev, "ts").count(),
      "rr:", QueryBuilder().row_range((10, 20)).to_df(ev, "ts").count(),
      "rr_neg:", QueryBuilder().row_range((-30, -10)).to_df(ev, "ts").count())

# 5. catalog: write/read/append/update/as_of/snapshot
import tempfile, shutil
root = tempfile.mkdtemp()
lib = Arctic(root, spark).create_library("test")
evp = ev.orderBy("ts")
lib.write("events", ev)
full = lib.read("events")
print("lib read rows:", full.count(), "orig:", ev.count())
print("metadata file_path sample:",
      spark.read.parquet(lib._load_manifest('events', 0).files[0].path)
      .select("_metadata.file_path").first()[0])
h = lib.head("events", 5).toPandas()
print("head rows:", len(h))
t = lib.tail("events", 5).toPandas()
print("tail rows:", len(t))
desc = lib.get_description("events")
print("desc rows:", desc["row_count"], "idx:", desc["index_column"])
shutil.rmtree(root)
print("SMOKE OK")
