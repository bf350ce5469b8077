"""1M x 64 embedding ladder (r13): the embedding/ANN family at its NATURAL
gate-flip scale.

The broadcast byte gate flips exactly at n*d*8 = 512 MB = 1M rows at d=64 —
the scale r12 could only extrapolate to (~50x the sf1 corpus). This tool
builds a deterministic 1M x 64 corpus with PLANTED near-duplicate structure
(ground truth by construction, so recall needs no second quadratic pass):

* vec(i) for i < 500k+2k: iid standard normal, rng seeded by i;
* planted pairs (i, i+500_000) for i < 2_000: the twin is the source plus
  eps*noise with eps in [0.2, 0.4] -> cosine ~ 1/sqrt(1+eps^2) in
  [0.93, 0.98], all above the 0.9 threshold; random pairs at d=64 pass
  0.9 with probability ~e^-26, so expected random hits over 5e11 pairs
  are single digits.

Measured and recorded into SCALING_EMBED1M.json:
1. **exact broadcast vs exact grid A/B at 1M** — the natural flip, forced
   both ways on the same input; results must be value-identical, and the
   planted pairs must ALL be found (exact path recall = 1.0 by
   construction).
2. **ANN recall@5 at 1M**: lsh_topk / ivf_topk vs brute_force_topk on 8
   held-out queries (bar: >= 0.85).

Run: ``python tools/embed_1m.py`` (writes ``.scale/embed1m/``; ~10-20 min
on local[32]).
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("OPENBLAS_NUM_THREADS", "2")   # 32 workers x 2 = fits

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

N = 1_000_000
D = 64
HALF = 500_000
N_PLANT = 2_000
THRESHOLD = 0.9
SEED = 20_260_816
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".scale", "embed1m")


def _twin_eps(i: int) -> float:
    return 0.2 + 0.2 * ((i * 2654435761) % 1000) / 1000.0


def _gen_corpus(spark):
    from pyspark.sql import functions as F

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            V = np.empty((len(ids), D), dtype=np.float32)
            for r, i in enumerate(ids):
                i = int(i)
                if HALF <= i < HALF + N_PLANT:
                    src = i - HALF
                    v = np.random.default_rng(SEED + src).standard_normal(D)
                    v = v + _twin_eps(i) * np.random.default_rng(
                        SEED + 7_000_000 + i).standard_normal(D)
                else:
                    v = np.random.default_rng(SEED + i).standard_normal(D)
                V[r] = v
            yield pd.DataFrame({"vec_id": ids,
                                "embedding": list(V)})

    path = os.path.join(OUT, "embeddings.parquet")
    if not os.path.isdir(path):
        (spark.range(N).repartition(64)
         .mapInPandas(gen, "vec_id long, embedding array<float>")
         .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    os.makedirs(OUT, exist_ok=True)
    spark = (SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.ui.enabled", "false")
        .appName("embed1m").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from arcticdb_spark.extensions import dedup as xd
    from arcticdb_spark.extensions import similarity as xs

    res: dict = {"n": N, "dim": D, "threshold": THRESHOLD,
                 "planted_pairs": N_PLANT}
    t0 = time.perf_counter()
    emb = _gen_corpus(spark).persist()
    n_actual = emb.count()
    assert n_actual == N, n_actual
    res["gen_sec"] = round(time.perf_counter() - t0, 1)
    print(f"corpus ready: {N} x {D} in {res['gen_sec']}s", flush=True)

    planted = {(i, i + HALF) for i in range(N_PLANT)}

    def run(tag, **kw):
        xd.clear_gate_log()
        t = time.perf_counter()
        out = xd.embedding_near_dup_pairs(emb, threshold=THRESHOLD, dim=D,
                                          n_rows=N, **kw)
        rows = sorted((r.id_a, r.id_b, r.cos) for r in out.collect())
        dt = time.perf_counter() - t
        gate = [g for g in xd.GATE_LOG if g["gate"] == "embedding_strategy"]
        print(f"{tag}: {len(rows)} pairs in {dt:.1f}s "
              f"(gate={gate[0]['path'] if gate else '?'})", flush=True)
        return rows, dt, (gate[0] if gate else None)

    # 1) natural-flip A/B: the byte gate sits EXACTLY at 512 MB here
    # (n*d*8 == budget); force each side explicitly on the same corpus
    exact, t_exact, g_exact = run("exact broadcast (forced under)",
                                  broadcast_bytes_max=1 << 40)
    grid, t_grid, g_grid = run("exact grid (forced above)",
                               broadcast_bytes_max=1)
    assert g_grid["path"] == "exact_grid", g_grid
    assert grid == exact, (len(grid), len(exact))
    found_pairs = {(a, b) for a, b, _c in exact}
    missing = planted - found_pairs
    assert not missing, f"exact path missed {len(missing)} planted pairs"
    res["exact_broadcast"] = {"pairs": len(exact), "sec": round(t_exact, 1)}
    res["exact_grid"] = {"pairs": len(grid), "sec": round(t_grid, 1),
                         "grid_k": g_grid["grid_k"],
                         "identical_to_broadcast": True,
                         "planted_recall": 1.0,
                         "extra_random_pairs": len(exact) - len(
                             planted & found_pairs)}

    # 2) ANN recall@5 at 1M vs brute force on 8 queries
    queries = emb.filter(F.col("vec_id") % 125_000 == 7).limit(8).persist()
    nq = queries.count()

    def topk_set(df):
        return {(r.query_id, r.vec_id) for r in df.collect()}

    t = time.perf_counter()
    truth5 = topk_set(xs.brute_force_topk(emb, queries, k=5))
    t_bf = time.perf_counter() - t
    t = time.perf_counter()
    l5 = topk_set(xs.lsh_topk(emb, queries, k=5))
    t_l5 = time.perf_counter() - t
    t = time.perf_counter()
    i5 = topk_set(xs.ivf_topk(emb, queries, k=5, n_lists=64, nprobe=8))
    t_i5 = time.perf_counter() - t
    r_lsh = len(l5 & truth5) / max(len(truth5), 1)
    r_ivf = len(i5 & truth5) / max(len(truth5), 1)
    res["ann_recall_at_5"] = {
        "queries": nq, "brute_force_sec": round(t_bf, 1),
        "lsh": {"recall": round(r_lsh, 4), "sec": round(t_l5, 1)},
        "ivf": {"recall": round(r_ivf, 4), "sec": round(t_i5, 1),
                "n_lists": 64, "nprobe": 8}}
    print(f"ANN recall@5 at 1M: lsh={r_lsh:.3f} ivf={r_ivf:.3f} "
          f"(bf {t_bf:.0f}s, lsh {t_l5:.0f}s, ivf {t_i5:.0f}s)", flush=True)

    out = os.path.join(os.path.dirname(OUT), "..", "SCALING_EMBED1M.json")
    with open(os.path.abspath(out), "w") as f:
        json.dump(res, f, indent=2)
    print(json.dumps(res, indent=2), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
