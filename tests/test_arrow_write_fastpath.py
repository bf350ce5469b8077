"""Focused tests for the r14 pyarrow write fast path (arrowwrite.py):
byte-level contract and off/on equivalence of every eligible flow, plus
the fallback gates that keep ineligible shapes on the Spark writer."""

import os

import numpy as np
import pandas as pd
import pytest

from arcticdb_spark import arrowwrite as aw
from arcticdb_spark.catalog import Arctic, Library


@pytest.fixture()
def counting(monkeypatch):
    """Count write_slices invocations so tests can assert the fast path
    actually fired (or did not)."""
    calls = {"n": 0}
    orig = aw.write_slices

    def wrapper(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)
    monkeypatch.setattr(aw, "write_slices", wrapper)
    return calls


def _frame(n=4000, seed=0):
    rng = np.random.default_rng(seed)
    return pd.DataFrame({
        "a": rng.integers(0, 1000, n).astype("int64"),
        "b": rng.integers(0, 100, n).astype("int32"),
        "c": rng.normal(size=n),
        "d": rng.choice(["x", "yy", "zzz", None], n),
        "e": rng.random(n).astype("float32"),
        "f": rng.integers(0, 2, n).astype("bool"),
    }, index=pd.date_range("2024-01-01", periods=n, freq="s"))


def _roundtrip(spark, tmp_path, sub, pdf, rows_per_file=1500):
    lib = Arctic(str(tmp_path / sub), spark).create_library(
        "l", rows_per_file=rows_per_file)
    lib.write("s", pdf)
    return lib


def test_fast_path_equivalence(spark, tmp_path, counting, monkeypatch):
    """write/append/stage+finalize round-trip byte-identically through the
    Spark writer (pandas_table and the driver finalize decline every
    frame) and the pyarrow writer: same values, same per-file
    rows/offsets/ts bounds, same manifest schema. Order-preserving writes
    (rowcount index, UNSORTED index) slice exactly at rows_per_file on
    both."""
    pdf = _frame()
    tail = _frame(800, 1).set_index(
        pd.date_range("2024-02-01", periods=800, freq="s"))
    kept_order = {"rowcount": pdf.reset_index(drop=True),
                  "unsorted": pdf.iloc[::-1].sample(frac=1, random_state=3)}
    state = {}
    for mode in ("spark", "arrow"):
        counting["n"] = 0
        with monkeypatch.context() as mp:
            if mode == "spark":
                mp.setattr(aw, "pandas_table", lambda pdf: "Spark writer arm")
                mp.setattr(Library, "_finalize_arrow",
                           lambda *a, **k: "Spark writer arm")
            lib = _roundtrip(spark, tmp_path, f"m{mode}", pdf)
            lib.append("s", tail)
            lib.stage("st", pdf.iloc[::2])
            lib.stage("st", pdf.iloc[1::2])
            lib.sort_and_finalize_staged_data("st", "write")
            for sym, frame in kept_order.items():
                lib.write(sym, frame, validate_index=False)
        state[mode] = {"calls": counting["n"]}
        for sym in ("s", "st", *kept_order):
            m = lib._load_manifest(sym, lib._load_ref(sym)["latest"])
            state[mode][sym] = (
                lib.read(sym, output_format="pandas"),
                [(f.rows, f.row_start, f.ts_min, f.ts_max) for f in m.files],
                m.schema_json)
    assert state["spark"]["calls"] == 0
    assert state["arrow"]["calls"] >= 5   # write + append + 2 stages + 2
    for sym in ("s", "st", *kept_order):
        spark_read, spark_files, spark_schema = state["spark"][sym]
        arrow_read, arrow_files, arrow_schema = state["arrow"][sym]
        pd.testing.assert_frame_equal(spark_read, arrow_read, obj=sym)
        assert spark_schema == arrow_schema, sym
        if sym != "st":   # the staged finalize samples its boundaries
            assert spark_files == arrow_files, sym
    for sym, frame in kept_order.items():
        pd.testing.assert_frame_equal(state["arrow"][sym][0], frame, obj=sym)
        assert [f[0] for f in state["arrow"][sym][1]] == [1500, 1500, 1000]


def test_pandas_source_not_retained_after_write(spark, tmp_path):
    """The normalized pandas frame lives only as long as the write call
    that made it. Neither a write whose frame loses identity before the
    writer (the all-None column is dropped) nor an append that static
    schema rejects may leave it reachable afterwards."""
    import gc

    from arcticdb_spark.catalog import ArcticException
    n = 123_457
    lib = Arctic(str(tmp_path / "retain"), spark).create_library("l")
    df = pd.DataFrame(
        {"a": np.arange(n, dtype="int64"), "void": [None] * n},
        index=pd.date_range("2024-01-01", periods=n, freq="s"))
    lib.write("s", df)
    bad = pd.DataFrame(
        {"a": np.arange(n, dtype="float64"), "void": [None] * n},
        index=pd.date_range("2025-01-01", periods=n, freq="s"))
    try:
        lib.append("s", bad)
    except ArcticException:
        pass
    else:
        pytest.fail("static schema accepted an int64 -> float64 append")
    del df, bad
    gc.collect()
    left = [type(o).__name__ for o in gc.get_objects()
            if isinstance(o, pd.DataFrame) and len(o) == n]
    assert not left, f"{len(left)} pandas frame(s) of {n} rows still alive"


def test_fast_path_footer_contract(spark, tmp_path, counting):
    """A fast-path file carries the Spark row.metadata footer key (so
    schema inference matches Spark-written files exactly), per-column
    min/max statistics, and exact rows_per_file slicing."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    import json
    lib = _roundtrip(spark, tmp_path, "contract", _frame())
    assert counting["n"] == 1
    m = lib._load_manifest("s", lib._load_ref("s")["latest"])
    assert [f.rows for f in m.files] == [1500, 1500, 1000]
    pf = pq.ParquetFile(m.files[0].path)
    md = pf.metadata.metadata
    assert aw.ROW_METADATA_KEY in md
    inferred = spark.read.parquet(m.files[0].path).schema
    assert inferred == T.StructType.fromJson(
        json.loads(md[aw.ROW_METADATA_KEY]))
    for i in range(pf.metadata.num_columns):
        st = pf.metadata.row_group(0).column(i).statistics
        assert st is not None and st.has_min_max


@pytest.mark.parametrize("mutate", [
    lambda p: p.assign(ts_data=pd.date_range("2024-01-01",
                                             periods=len(p), freq="us")),
    lambda p: p.assign(binary=[b"x"] * len(p)),
    lambda p: p.assign(lists=[[1, 2]] * len(p)),
])
def test_ineligible_dtypes_fall_back(spark, tmp_path, counting, mutate):
    """Timestamp data columns, binary and list payloads keep the Spark
    writer — and the write still round-trips."""
    pdf = mutate(_frame(50))
    lib = _roundtrip(spark, tmp_path, "fb" + str(counting["n"]), pdf)
    assert counting["n"] == 0
    got = lib.read("s", output_format="pandas")
    assert len(got) == 50


def test_dict_encoded_library_falls_back(spark, tmp_path, counting):
    """Dictionary-coded columns transform the frame after normalization,
    which must break the identity gate."""
    from arcticdb_spark.catalog import LibraryOptions
    lib = Arctic(str(tmp_path / "dict"), spark).create_library(
        "l", library_options=LibraryOptions(dictionary_columns=("d",)))
    pdf = _frame(200)
    pdf["d"] = pdf["d"].fillna("z")
    lib.write("s", pdf)
    assert counting["n"] == 0
    got = lib.read("s", output_format="pandas")
    pd.testing.assert_frame_equal(got, pdf, check_freq=False)
