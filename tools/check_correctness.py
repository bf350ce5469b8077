"""Local replica of the driver's correctness gate: run every queries() entry
through Spark AND its oracle_sql() through DuckDB at sf0.01; compare
row-count, column names/types, and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import numpy as np
import pandas as pd


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None) if s.dt.tz is None else \
                pd.to_datetime(s).dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(lambda v: tuple(np.asarray(v).tolist())
                          if isinstance(v, (list, np.ndarray)) else v)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
    df = df.sort_values(by=list(df.columns), na_position="last",
                        ignore_index=True, kind="mergesort")
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str:
    if len(spark_pdf) != len(duck_pdf):
        return f"ROWCOUNT spark={len(spark_pdf)} duck={len(duck_pdf)}"
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"COLUMNS spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
    a, b = canonicalize(spark_pdf), canonicalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            ok = ((av.isna() & bv.isna()) | (av == bv)).all()
        else:
            try:
                ok = av.equals(bv)
            except Exception:
                ok = False
        if not ok:
            bad = None
            try:
                neq = ~((av.isna() & bv.isna()) | (av == bv))
                idx = neq[neq].index[:3].tolist()
                bad = [(i, av.iloc[i], bv.iloc[i]) for i in idx]
            except Exception:
                pass
            return f"VALUES col={c} sample={bad}"
    return "OK"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    import os
    import __spark_entry__ as entry_mod
    if os.environ.get("BARE_SESSION"):
        # simulate the verify driver: plain session, none of our configs
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[*]")
                 .config("spark.sql.session.timeZone", "America/New_York")
                 .config("spark.ui.enabled", "false").getOrCreate())
    else:
        from arcticdb_spark import get_spark
        spark = get_spark()

    con = duckdb.connect()
    import os as _os
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        src = f"{sf_dir}/{t}.parquet"
        if _os.path.isdir(src):   # multi-file table (e.g. the sf1 dirs)
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    if not only or any(n.startswith("stream_") for n in only):
        try:   # overlap the streaming gate's fixed startup with the run
            from arcticdb_spark.streaming.gate import prewarm
            prewarm(spark, sf_dir)
        except Exception:
            pass

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as e:
            results[name] = f"SPARK-ERROR {type(e).__name__}: {str(e)[:300]}"
            print(f"{name:28s} {results[name]}")
            continue
        if name not in oracles:
            results[name] = f"rows-only ({len(spark_pdf)} rows)"
            print(f"{name:28s} {results[name]}  [{time.time()-t0:.1f}s]")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            results[name] = f"DUCK-ERROR {type(e).__name__}: {str(e)[:300]}"
            print(f"{name:28s} {results[name]}")
            continue
        results[name] = compare(name, spark_pdf, duck_pdf)
        print(f"{name:28s} {results[name]}  [{time.time()-t0:.1f}s]")

    n_ok = sum(1 for v in results.values() if v == "OK")
    n_rowsonly = sum(1 for v in results.values() if v.startswith("rows-only"))
    print(f"\n{n_ok} OK, {n_rowsonly} rows-only, "
          f"{len(results) - n_ok - n_rowsonly} FAILING of {len(results)}")


if __name__ == "__main__":
    main()
