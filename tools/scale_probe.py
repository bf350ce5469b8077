"""Measure headline queries across sf0.001 / sf0.01 / sf0.1 (100x data
range) and write SCALING.md. Near-flat wall-clock across the range means the
Spark job floor dominates (tiny data); the interesting signal is the
incremental cost per 10x, which bounds the extrapolation to cluster scale."""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as E
from arcticdb_spark import get_spark

# FULL registry sweep (VERDICT r9 item 5): every queries() entry, so a
# job-floor-masked compute regression in ANY operator surfaces in the
# marginal-cost column, not just the historical headline subset.
# ``--quick`` restricts to the headline list for fast iteration.
HEADLINE = ["filter_numeric", "groupby_tpch_q1", "resample_1h",
            "join_revenue", "asof_join", "dedup_exact", "dedup_minhash",
            "dedup_cluster", "quality_repetition", "embedding_kmeans",
            "similarity_bruteforce", "decontaminate", "pack_chunks",
            "dup_ngram_fraction", "pii_scan",
            # stream_resample pays the shared one-pass gate runtime for
            # the sf_dir; stream_sessionize then reads the cached result
            # — the pair shows both costs.
            "uint64_filter_agg", "uint64_mixed_compare",
            "stream_resample", "stream_sessionize"]
QUERIES = list(E.queries().keys())
SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def stress_dedup_cluster(spark) -> list[str]:
    """10x-duplicated 50k-doc corpus (sf0.1 documents x 10 distinct-id
    copies): pins the quadratic-in-multiplicity pair listing — a k-copy
    group emits C(k,2) pairs, NOTES_r2 measured ~113M pairs at this size —
    against the cluster-level API (``simhash_dedup``) that never
    materializes id pairs. Regressions in the banded join or the CC loop
    show up as blow-ups in these timings."""
    import time as _t

    from pyspark.sql import functions as F

    from arcticdb_spark.extensions import dedup as xd
    from arcticdb_spark.sources import tables
    docs = tables.load_table(spark, SFS[2], "documents")
    mult = 10
    dup = (docs.crossJoin(spark.range(mult).select(F.col("id").alias("copy")))
           .select((F.col("doc_id") * mult + F.col("copy")).alias("doc_id"),
                   "text"))
    n_docs = dup.count()
    t0 = _t.perf_counter()
    n_pairs = xd.minhash_near_dup_pairs(dup).count()
    t_pairs = _t.perf_counter() - t0
    xd.unpersist_all()
    t0 = _t.perf_counter()
    n_keep = xd.simhash_dedup(dup).count()
    t_dedup = _t.perf_counter() - t0
    xd.unpersist_all()
    return [
        "",
        "## dedup_cluster stress — 10x duplication (sf0.1 documents)",
        "",
        f"| corpus docs | minhash candidate pairs | pair-listing sec "
        f"| simhash_dedup survivors | cluster-dedup sec |",
        "|---|---|---|---|---|",
        f"| {n_docs} | {n_pairs} | {t_pairs:.1f} | {n_keep} | {t_dedup:.1f} |",
        "",
        "Pair listing is quadratic in duplicate multiplicity (C(k,2) per",
        "k-copy group); the cluster-level API clusters the distinct-hash",
        "graph instead, so its cost tracks distinct content, not copies.",
    ]


def probe_sf1_gates(spark) -> list[str]:
    """sf1-scale probe of the gated dedup/ANN paths (VERDICT r5 item 9):
    synthesize sf1 as 10x the sf0.1 documents/embeddings (varied per copy —
    near-dup-heavy, the adversarial shape for pair listing), run each gated
    operator, and record WHICH SIDE of every gate fired via
    ``dedup.GATE_LOG`` — the 100 TB question is not the wall-clock but
    whether the strategy picker flips to the distributed path when it
    should."""
    import time as _t

    from pyspark.sql import functions as F

    from arcticdb_spark.extensions import dedup as xd
    from arcticdb_spark.extensions import similarity as xs
    from arcticdb_spark.sources import tables

    mult = 10
    docs = tables.load_table(spark, SFS[2], "documents")
    dup = (docs.crossJoin(spark.range(mult).select(F.col("id").alias("copy")))
           .select((F.col("doc_id") * mult + F.col("copy")).alias("doc_id"),
                   F.concat(F.col("text"), F.lit(" copyterm"),
                            F.col("copy").cast("string")).alias("text"))
           .persist())
    n_docs = dup.count()
    emb = tables.load_table(spark, SFS[2], "embeddings")
    emb10 = (emb.crossJoin(spark.range(mult).select(F.col("id").alias("copy")))
             .select((F.col("vec_id") * mult + F.col("copy")).alias("vec_id"),
                     F.transform(
                         F.col("embedding"),
                         lambda x, i: x + F.when(i == 0,
                                                 F.col("copy") * 0.001)
                                           .otherwise(F.lit(0.0)))
                      .alias("embedding"))
             .persist())
    n_vecs = emb10.count()

    runs = [
        ("exact_dedup", lambda: xd.exact_dedup(dup).count()),
        ("minhash_pairs", lambda: xd.minhash_near_dup_pairs(dup).count()),
        ("jaccard_pairs", lambda: xd.jaccard_near_dup_pairs(dup).count()),
        ("near_dup_clusters", lambda: xd.near_dup_clusters(
            xd.minhash_near_dup_pairs(dup)).count()),
        ("simhash_dedup", lambda: xd.simhash_dedup(dup).count()),
        ("embedding_near_dup", lambda: xd.embedding_near_dup_pairs(
            emb10, n_rows=n_vecs).count()),
        ("kmeans", lambda: xs.kmeans(emb10, k=8, iters=2).count()),
    ]
    lines = ["", f"## sf1 gate probe — 10x sf0.1 ({n_docs} docs, "
                 f"{n_vecs} vectors, near-dup-heavy)", "",
             "| operator | sec | gate decisions (gate -> path, measured vs budget) |",
             "|---|---|---|"]
    for name, fn in runs:
        xd.clear_gate_log()
        t0 = _t.perf_counter()
        fn()
        dt = _t.perf_counter() - t0
        gates = "; ".join(
            f"{g['gate']}->{g['path']} "
            + (f"({g.get('est_bytes', g.get('edges', g.get('n_rows', '?')))}"
               f"/{g.get('budget', '?')})")
            for g in xd.GATE_LOG) or "-"
        lines.append(f"| {name} | {dt:.1f} | {gates} |")
        xd.unpersist_all()
        xs.unpersist_all()
    dup.unpersist()
    emb10.unpersist()
    lines += ["",
              "Every broadcast/driver-collect sits behind one of these "
              "gates with a distributed fallback; the probe records the "
              "side that fired at this size (routing boundary tests: "
              "test_exact_grid_gemm_above_broadcast_budget, "
              "test_near_dup_clusters_long_chain_converges_or_raises)."]
    return lines


def probe_forced_join_gates(spark) -> list[str]:
    """End-to-end exercise of BOTH sides of the byte-gated embedding
    strategy at the sf1 probe size (VERDICT r6 item 7): run embedding
    near-dup with the default budget (broadcast GEMM) and with
    ``broadcast_bytes_max=1`` (forcing the block-grid GEMM), assert the
    two sides return IDENTICAL pair counts, and record wall-clock + the
    gate decision for each. Jaccard near-dup has no gate
    (one plan, AQE picks its joins) and runs once for its wall-clock."""
    import time as _t

    from pyspark.sql import functions as F

    from arcticdb_spark.extensions import dedup as xd
    from arcticdb_spark.sources import tables

    mult = 10
    docs = tables.load_table(spark, SFS[2], "documents")
    dup = (docs.crossJoin(spark.range(mult).select(F.col("id").alias("copy")))
           .select((F.col("doc_id") * mult + F.col("copy")).alias("doc_id"),
                   F.concat(F.col("text"), F.lit(" copyterm"),
                            F.col("copy").cast("string")).alias("text"))
           .persist())
    n_docs = dup.count()
    emb = tables.load_table(spark, SFS[2], "embeddings")
    emb10 = (emb.crossJoin(spark.range(mult).select(F.col("id").alias("copy")))
             .select((F.col("vec_id") * mult + F.col("copy")).alias("vec_id"),
                     F.transform(
                         F.col("embedding"),
                         lambda x, i: x + F.when(i == 0,
                                                 F.col("copy") * 0.001)
                                           .otherwise(F.lit(0.0)))
                      .alias("embedding"))
             .persist())
    n_vecs = emb10.count()

    lines = ["", f"## forced-gate probe — both embedding paths end-to-end "
                 f"({n_docs} docs, {n_vecs} vectors)", "",
             "| operator | path | gate decision | sec | result pairs |",
             "|---|---|---|---|---|"]
    results = {}
    runs = [
        ("jaccard_verify", "one plan (AQE join)",
         lambda: xd.jaccard_near_dup_pairs(dup).count()),
        ("embedding", "blocked GEMM (default under budget)",
         lambda: xd.embedding_near_dup_pairs(emb10, n_rows=n_vecs).count()),
        ("embedding", "exact grid (forced above-budget)",
         lambda: xd.embedding_near_dup_pairs(
             emb10, n_rows=n_vecs, broadcast_bytes_max=1).count()),
    ]
    for op, path, fn in runs:
        xd.clear_gate_log()
        t0 = _t.perf_counter()
        n = fn()
        dt = _t.perf_counter() - t0
        gate = "; ".join(f"{g['gate']}->{g['path']}"
                         for g in xd.GATE_LOG
                         if g["gate"] == "embedding_strategy") or "-"
        lines.append(f"| {op} | {path} | {gate} | {dt:.1f} | {n} |")
        results.setdefault(op, []).append(n)
        xd.unpersist_all()
    dup.unpersist()
    emb10.unpersist()
    mismatches = {op: ns for op, ns in results.items() if len(set(ns)) != 1}
    lines += ["",
              ("**Both sides agree on every operator** — the grid "
               "fallback is value-identical to the broadcast path at this "
               "size."
               if not mismatches else
               f"**MISMATCH: {mismatches}** — the two gate sides disagree; "
               "treat as a correctness bug."),
              ""]
    return lines


def prune_ratio_section(spark) -> list[str]:
    """Measure zone-map pruning across the sf ladder (VERDICT r10 item 3:
    the 100x claim for column-stats pruning — reference
    ``pipeline/column_stats_filter.cpp:28-120`` — should be MEASURED, not
    asserted at one size): events written as 8 value-disjoint slices per
    sf, MINMAX stats created, then a top-eighth filter read; we record
    manifest file count vs files the executed plan actually scanned. The
    ratio is scale-INVARIANT by design — pruning happens at plan time from
    footer-sized metadata, so the scanned fraction depends on predicate
    selectivity, never on data volume."""
    import re as _re
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from arcticdb_spark.catalog import Arctic
    from arcticdb_spark.query import QueryBuilder
    from arcticdb_spark.sources import tables

    out = [
        "",
        "## column-stats pruning across the sf ladder (stats_prune_filter"
        " physics)",
        "",
        "| sf | rows | manifest files | files scanned | read sec |",
        "|---|---|---|---|---|",
    ]
    for sf in SFS:
        ev = (tables.load_table(spark, sf, "events")
              .select("event_id", "value").toPandas()
              .sort_values("event_id").reset_index(drop=True))
        n = len(ev)
        root = tempfile.mkdtemp(prefix="prune_probe_")
        try:
            lib = Arctic(root, spark).create_library(
                "p", rows_per_file=max(n // 8, 1))
            step = max(n // 8, 1)
            lib.write("ev", ev.iloc[:step])
            for i in range(step, n, step):
                lib.append("ev", ev.iloc[i:i + step])
            lib.create_column_stats("ev", ["event_id"])
            cut = int(ev["event_id"].iloc[int(n * 7 / 8)])
            q = QueryBuilder()
            q = q[q["event_id"] >= cut]
            t0 = time.perf_counter()
            res = lib.read("ev", query_builder=q)
            res.count()
            dt = time.perf_counter() - t0
            total = len(lib._load_manifest(
                "ev", lib._load_ref("ev")["latest"]).files)
            plan = res._jdf.queryExecution().executedPlan().toString()
            m = _re.search(r"InMemoryFileIndex\((\d+) paths\)", plan)
            scanned = int(m.group(1)) if m else -1
            out.append(f"| {sf.rsplit('sf', 1)[-1]} | {n} | {total} "
                       f"| {scanned} | {dt:.2f} |")
        finally:
            shutil.rmtree(root, ignore_errors=True)
    out.append("")
    out.append("Scanned files stay a constant FRACTION of the manifest as "
               "data grows 100x — the prune decision reads only "
               "footer-sized stats at plan time, so at 100 TB the read "
               "opens the same selectivity-proportional subset.")
    return out


def main():
    spark = get_spark("scale_probe")
    qs = E.queries()
    names = HEADLINE if "--quick" in sys.argv else QUERIES
    # warm up
    qs["filter_numeric"](spark, SFS[0]).count()
    # min-of-2 passes (same practice as bench.py): a single cold pass
    # conflates a query's cost with Python-worker spawn / codegen /
    # first-touch caching, which is exactly the noise that fakes
    # marginal-cost outliers at sub-second absolutes
    rows = {name: [float("inf")] * len(SFS) for name in names}
    for _pass in range(2):
        for name in names:
            for i, sf in enumerate(SFS):
                t0 = time.perf_counter()
                qs[name](spark, sf).count()
                rows[name][i] = min(rows[name][i],
                                    time.perf_counter() - t0)
    lines = [
        "# SCALING — wall-clock across a 100x data range (local[32])",
        "",
        "Generated by `tools/scale_probe.py`. Columns are seconds at each",
        "scale factor; `x0.1/x0.01` is the marginal cost of the last 10x —",
        "values near 1.0 mean the job floor dominates (compute is free at",
        "this size); the absolute increment bounds per-10x growth.",
        "",
        "| query | sf0.001 | sf0.01 | sf0.1 | sf0.1/sf0.01 |",
        "|---|---|---|---|---|",
    ]
    for name, ts in rows.items():
        ratio = ts[2] / ts[1] if ts[1] > 0 else float("nan")
        lines.append(f"| {name} | {ts[0]:.2f} | {ts[1]:.2f} | {ts[2]:.2f} "
                     f"| {ratio:.2f}x |")
    lines.append("")
    lines.append("Lineitem rows: 6k / 60k / 600k; events 1k / 10k / 100k; "
                 "documents 50 / 500 / 5000.")
    superlinear = [(n, ts) for n, ts in rows.items()
                   if ts[1] > 0 and ts[2] / ts[1] > 10.0 and ts[2] > 0.5]
    hot = [(n, ts) for n, ts in rows.items()
           if ts[1] > 0 and 2.0 < ts[2] / ts[1] <= 10.0 and ts[2] > 0.5]
    lines.append("")
    if superlinear:
        lines.append("**SUPER-LINEAR growth (>10x time for the last 10x "
                     "of data — a real scale hazard):** "
                     + ", ".join(f"{n} ({ts[2] / ts[1]:.2f}x, {ts[2]:.2f}s)"
                                 for n, ts in superlinear))
    else:
        lines.append("**No super-linear growth**: no query takes >10x "
                     "longer for the last 10x of data — every plan's "
                     "compute scales at-or-below linear.")
    if hot:
        lines.append("")
        lines.append("Compute emerging from the job floor (2-10x per 10x "
                     "of data = sub-linear-to-linear, expected for "
                     "compute-dominated queries; listed for watching, not "
                     "failing): "
                     + ", ".join(f"{n} ({ts[2] / ts[1]:.2f}x, {ts[2]:.2f}s)"
                                 for n, ts in hot))
    lines.extend(prune_ratio_section(spark))
    if "--stress" in sys.argv:
        lines.extend(stress_dedup_cluster(spark))
    if "--sf1" in sys.argv:
        lines.extend(probe_sf1_gates(spark))
    if "--forced-gates" in sys.argv:
        lines.extend(probe_forced_join_gates(spark))
    with open(REPO / "SCALING.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote SCALING.md")
    for name, ts in rows.items():
        print(f"{name:24s} {ts[0]:.2f} {ts[1]:.2f} {ts[2]:.2f}")


def sf1_only():
    """Append just the sf1 gate-probe section to the existing SCALING.md."""
    spark = get_spark("scale_probe")
    lines = probe_sf1_gates(spark)
    with open(REPO / "SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


def forced_gates_only():
    """Append just the forced-gate section to the existing SCALING.md."""
    spark = get_spark("scale_probe")
    lines = probe_forced_join_gates(spark)
    with open(REPO / "SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    if "--sf1-only" in sys.argv:
        sf1_only()
    elif "--forced-gates-only" in sys.argv:
        forced_gates_only()
    else:
        main()
