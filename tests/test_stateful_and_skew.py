"""Stateful streaming sessionization + salted aggregation + new lib APIs."""

import numpy as np
import pandas as pd
import pytest
# multi-version lifecycle / property stress: run in the FULL gate;
# deselect with -m "not slow" for the fast (<10 min) loop
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F


def test_stream_sessionize_stateful(spark, tmp_path):
    from arcticdb_spark.streaming.stateful import stream_sessionize
    src = str(tmp_path / "src")
    # user 1: two sessions (gap 2h); user 2: one session
    ts = (list(pd.date_range("2024-01-01 10:00", periods=3, freq="5min"))
          + list(pd.date_range("2024-01-01 14:00", periods=2, freq="5min"))
          + list(pd.date_range("2024-01-01 10:00", periods=4, freq="10min")))
    users = [1] * 5 + [2] * 4
    pdf = pd.DataFrame({"ts": ts, "user_id": users})
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("ts timestamp, user_id long").parquet(src)
    out = stream_sessionize(stream, gap="30 minutes")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("sessions").start())
    try:
        q.processAllAvailable()
        res = spark.sql("SELECT * FROM sessions ORDER BY user_id, session_start") \
                   .toPandas()
    finally:
        q.stop()
    # closed sessions only: user 1's first session (the second is still open
    # in state), nothing for user 2 (single open session)
    assert len(res) == 1
    assert res.iloc[0]["user_id"] == 1
    assert res.iloc[0]["n_events"] == 3


def test_salted_groupby_matches_plain(spark):
    from arcticdb_spark.plans.skew import salted_groupby
    rng = np.random.default_rng(3)
    # heavily skewed: 80% of rows on one key
    keys = np.where(rng.random(5000) < 0.8, "hot", rng.choice(list("abcde"), 5000))
    pdf = pd.DataFrame({"k": keys, "v": rng.uniform(0, 10, 5000)})
    df = spark.createDataFrame(pdf)
    out = salted_groupby(df, "k", {"s": ("v", "sum"), "n": ("v", "count"),
                                   "mx": ("v", "max"), "m": ("v", "mean")},
                         salt=8).toPandas().set_index("k").sort_index()
    plain = (df.groupBy("k").agg(F.sum("v").alias("s"), F.count("v").alias("n"),
                                 F.max("v").alias("mx"), F.avg("v").alias("m"))
             .toPandas().set_index("k").sort_index())
    assert (out["n"] == plain["n"]).all()
    assert np.allclose(out["s"], plain["s"])
    assert np.allclose(out["mx"], plain["mx"])
    assert np.allclose(out["m"], plain["m"])


def test_embedding_near_dup_exact_finds_planted(spark):
    from arcticdb_spark.extensions.dedup import embedding_near_dup_pairs
    rng = np.random.default_rng(5)
    base = rng.standard_normal((50, 16)).astype("float32")
    # plant near-duplicates: 5 vectors with tiny noise
    dups = base[:5] + rng.standard_normal((5, 16)).astype("float32") * 0.01
    vecs = np.vstack([base, dups])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(55)],
        "vec_id long, embedding array<float>")
    exact = embedding_near_dup_pairs(df, threshold=0.99).toPandas()
    planted = {(i, 50 + i) for i in range(5)}
    got = {(a, b) for a, b in zip(exact.id_a, exact.id_b)}
    assert planted <= got


def test_read_index_and_defragment(tmp_lib):
    pdf = pd.DataFrame({"ts": pd.date_range("2024-01-01", periods=30, freq="1h"),
                        "v": [float(i) for i in range(30)]})
    tmp_lib.write("sym", pdf)
    tmp_lib.append("sym", pd.DataFrame({
        "ts": pd.date_range("2024-01-03", periods=30, freq="1h"),
        "v": [float(i) for i in range(30)]}))
    idx = tmp_lib.read_index("sym")
    assert idx["rows"].sum() == 60
    assert (idx["end_row"] - idx["start_row"] == idx["rows"]).all()
    tmp_lib.defragment_symbol_data("sym")
    assert tmp_lib.read("sym").count() == 60


def test_sort_and_finalize_alias(tmp_lib):
    c = pd.DataFrame(
        {"v": list(range(10))},
        index=pd.date_range("2024-01-01", periods=10, freq="1h",
                            name="ts")[::-1])
    tmp_lib.stage("s", c, validate_index=False)
    m = tmp_lib.sort_and_finalize_staged_data("s")
    assert m.sorted == "ASCENDING"
    out = tmp_lib.read("s").toPandas()
    assert out["ts"].is_monotonic_increasing


def test_salted_join_matches_plain(spark):
    import numpy as np
    from arcticdb_spark.plans.skew import salted_join
    rng = np.random.default_rng(11)
    # pathological skew: 60% of rows share one key
    keys = np.where(rng.random(5000) < 0.6, 7, rng.integers(0, 50, 5000))
    big = spark.createDataFrame(
        [(int(k), float(i)) for i, k in enumerate(keys)], "k int, v double")
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(50)], "k int, name string")
    plain = big.join(small, "k").groupBy("k").count()
    salted = salted_join(big, small, "k").groupBy("k").count()
    a = {r["k"]: r["count"] for r in plain.collect()}
    b = {r["k"]: r["count"] for r in salted.collect()}
    assert a == b
    # left join keeps unmatched big rows
    big2 = big.withColumn("k", F.col("k") + 40)   # some keys miss the dim
    l_plain = big2.join(small, "k", "left").count()
    l_salted = salted_join(big2, small, "k", how="left").count()
    assert l_plain == l_salted


def test_exact_blocked_gemm_crosses_row_blocks(spark):
    """The blocked exact path iterates 1024-row GEMM blocks; with n>1024
    every cross-block pair must still be found, and the result must equal
    a brute-force numpy all-pairs at the same rounding."""
    import numpy as np
    from arcticdb_spark.extensions.dedup import embedding_near_dup_pairs
    rng = np.random.default_rng(11)
    n, d = 1500, 8
    vecs = rng.standard_normal((n, d)).astype("float32")
    vecs[1400] = vecs[3] * 2.0      # cross-block exact duplicate direction
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>")
    got = embedding_near_dup_pairs(df, threshold=0.9, dim=d,
                                   n_rows=n).toPandas()
    M = vecs.astype("float64")
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = np.round(M @ M.T, 6)
    ia, ib = np.nonzero(np.triu(S >= 0.9, k=1))
    want = set(zip(ia.tolist(), ib.tolist()))
    assert {(a, b) for a, b in zip(got.id_a, got.id_b)} == want
    assert (3, 1400) in want   # the planted cross-block pair was in play


def test_exact_grid_gemm_above_broadcast_budget(spark):
    """Above the broadcast byte budget the r13 default is the 2-D block
    grid GEMM — force it (budget=1 byte, tiny blocks so k is large and
    every cross-block combination is exercised) and require the result
    set AND cosine values to be identical to the single-matrix exact path
    and the numpy oracle."""
    import numpy as np
    from arcticdb_spark.extensions.dedup import (GATE_LOG, clear_gate_log,
                                                 embedding_near_dup_pairs)
    rng = np.random.default_rng(13)
    n, d = 1200, 8
    vecs = rng.standard_normal((n, d)).astype("float32")
    vecs[900] = vecs[17] * -0.5 * -1.0   # planted exact-direction dup
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>")
    exact = embedding_near_dup_pairs(df, threshold=0.7, dim=d,
                                     n_rows=n).toPandas()
    clear_gate_log()
    grid = embedding_near_dup_pairs(df, threshold=0.7, dim=d, n_rows=n,
                                    broadcast_bytes_max=1,
                                    grid_block_bytes=16 << 10).toPandas()
    g = [g for g in GATE_LOG if g["gate"] == "embedding_strategy"]
    assert g[0]["path"] == "exact_grid" and g[0]["grid_k"] >= 4, g
    key = lambda pdf: sorted(zip(pdf.id_a, pdf.id_b, pdf.cos))
    assert key(grid) == key(exact)
    M = vecs.astype("float64")
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = np.round(M @ M.T, 6)
    ia, ib = np.nonzero(np.triu(S >= 0.7, k=1))
    assert len(grid) == len(ia)
    assert (17, 900) in set(zip(grid.id_a, grid.id_b))
