"""pandas ingest without a Spark frame: ``Library._normalize`` derives the
Spark schema of a pandas frame in Python (``arrowwrite.pandas_table`` +
``arrowwrite.spark_schema``) and builds the Spark frame only when a
transform needs it.

Each eligible dtype case is written twice: as is, and with
``arrowwrite.pandas_table`` declining, which builds the Spark frame with
``createDataFrame`` and writes it with the Spark writer. Both must store
the same schema, norm meta and files and read back the same frame. Each
fallback case states why it falls back."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from arcticdb_spark import arrowwrite as aw
from arcticdb_spark.catalog import Arctic, LibraryOptions
from arcticdb_spark.timeframe import TimeFrame
from tests.counters import py4j_calls

N = 6
IDX = pd.date_range("2024-01-01", periods=N, freq="s", name="ts")


def _frame(**cols) -> pd.DataFrame:
    return pd.DataFrame(cols, index=IDX)


ELIGIBLE = {
    "ints": lambda: _frame(
        i8=np.arange(N, dtype="int8"), i16=np.arange(N, dtype="int16"),
        i32=np.arange(N, dtype="int32"), i64=np.arange(N, dtype="int64")),
    "nullable": lambda: _frame(
        n64=pd.array([1, None, 3, None, 5, 6], dtype="Int64"),
        nb=pd.array([True, None, False, True, None, False],
                    dtype="boolean")),
    "floats_nan": lambda: _frame(
        f32=np.array([1.5, np.nan, 2, 3, np.nan, 4], dtype="float32"),
        f64=[np.nan, 1.0, -0.0, np.inf, 2.5, np.nan]),
    "bool": lambda: _frame(b=[True, False, True, True, False, False]),
    "object_str": lambda: _frame(s=["a", None, "ccc", "", "é", None]),
    "string_dtype": lambda: _frame(
        s=pd.array(["x", None, "y", "z", None, "w"], dtype="string")),
    "small_uints": lambda: _frame(
        u8=np.arange(N, dtype="uint8") + 250,
        u16=np.arange(N, dtype="uint16") + 65530,
        u32=np.arange(N, dtype="uint32") + 4294967290),
    "uint64": lambda: _frame(
        u64=np.array([0, 1, 2**63, 2**64 - 1, 2**63 - 1, 7],
                     dtype="uint64")),
    "categorical": lambda: _frame(
        cs=pd.Categorical(["a", "b", "a", None, "c", "b"],
                          categories=["c", "b", "a"]),
        ci=pd.Categorical([3, 1, 2, 3, None, 1])),
    "multiindex": lambda: pd.DataFrame(
        {"v": np.arange(N, dtype="float64")},
        index=pd.MultiIndex.from_arrays(
            [IDX, ["a", "b", "a", "b", "a", "b"]], names=["ts", "k"])),
    "names": lambda: pd.DataFrame(
        [[1, 2.0, "x", 4]] * N, index=IDX, columns=[7, None, "a", "a"]),
    "rowcount": lambda: pd.DataFrame({"v": np.arange(N, dtype="int64")}),
    "series": lambda: pd.Series(np.arange(N, dtype="float64"), index=IDX,
                                name="ser"),
    "timeframe": lambda: TimeFrame(IDX.values, ["a", "b"],
                                   [np.arange(N, dtype="float64"),
                                    np.arange(N, dtype="int64")]),
}

FALLBACK = {
    "tz_aware_column": (
        lambda: _frame(when=pd.date_range("2024-01-01", periods=N, freq="h",
                                          tz="Europe/Paris")),
        "column 'when' is timestamp[ns], outside arrowwrite.physical_type"),
    "timestamp_column": (
        lambda: _frame(when=pd.date_range("2024-01-01", periods=N,
                                          freq="h")),
        "column 'when' is timestamp[ns], outside arrowwrite.physical_type"),
    "all_none": (
        lambda: _frame(v=np.arange(N, dtype="int64"), void=[None] * N),
        "column 'void' is null, outside arrowwrite.physical_type"),
    "binary": (
        lambda: _frame(blob=[b"a", b"bb", None, b"", b"c", b"d"]),
        "column 'blob' is binary, outside arrowwrite.physical_type"),
}


@pytest.fixture(scope="module")
def libs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("pandas_ingest")
    return {mode: Arctic(str(root / mode), spark).create_library("l")
            for mode in ("derived", "forced")}


def _decline(monkeypatch):
    monkeypatch.setattr(aw, "pandas_table", lambda pdf: "forced")


def _stored(lib, sym):
    m = lib._load_manifest(sym, lib._load_ref(sym)["latest"])
    return (m.schema_json, m.norm_meta,
            [(f.rows, f.row_start, f.ts_min, f.ts_max) for f in m.files])


def _assert_same_read(a, b):
    if isinstance(a, TimeFrame):
        assert isinstance(b, TimeFrame)
        a, b = (pd.DataFrame(dict(zip(x.columns_names, x.columns_values)),
                             index=pd.DatetimeIndex(x.times)) for x in (a, b))
    if isinstance(a, pd.Series):
        pd.testing.assert_series_equal(a, b, check_exact=True)
    else:
        pd.testing.assert_frame_equal(a, b, check_exact=True)


@pytest.mark.parametrize("case", sorted(ELIGIBLE))
def test_derived_schema_and_write_match_spark_frame(libs, monkeypatch, case):
    make = ELIGIBLE[case]
    lib = libs["derived"]
    n = lib._normalize(make())
    assert n.table is not None and n.why is None and n._frame is None
    with monkeypatch.context() as mp:
        _decline(mp)
        forced = lib._normalize(make())
        assert forced.why == "forced" and forced._frame is not None
        # the forced record's schema is createDataFrame's
        assert n.schema.json() == forced.schema.json()
        assert n.meta == forced.meta
        libs["forced"].write(case, make(), validate_index=False)
    lib.write(case, make(), validate_index=False)
    assert _stored(lib, case) == _stored(libs["forced"], case)
    _assert_same_read(lib.read(case, output_format="pandas"),
                      libs["forced"].read(case, output_format="pandas"))


@pytest.mark.parametrize("case", sorted(FALLBACK))
def test_fallback_builds_spark_frame_and_says_why(libs, case):
    """Types arrowwrite does not write keep today's eager Spark frame."""
    make, why = FALLBACK[case]
    lib = libs["derived"]
    n = lib._normalize(make())
    assert n.table is None and n._frame is not None
    assert n.why == why
    lib.write(case, make())
    assert len(lib.read(case, output_format="pandas")) == N


def test_pyarrow_strings_are_written_as_string(libs):
    """pyarrow-backed strings convert to ``large_string``, which the table
    casts to ``string``; Spark's own writer fails on such a column
    (NegativeArraySizeException in UTF8String.copy), so there is no forced
    path to compare with."""
    vals = ["x", None, "y", "z", None, "w"]
    df = _frame(s=pd.array(vals, dtype="string[pyarrow]"))
    lib = libs["derived"]
    n = lib._normalize(df)
    assert str(n.table.schema.field("s").type) == "string"
    assert n.schema.simpleString() == "struct<ts:bigint,s:string>"
    lib.write("pa_str", df)
    assert list(lib.read("pa_str", output_format="pandas")["s"]) == vals


@pytest.mark.parametrize("rows,other,dict_cols", [
    (3, "void", ()), (5, "void", ()), (3, "int", ("s",))],
    ids=["next_to_void_3_rows", "next_to_void_5_rows", "dictionary_column"])
def test_pyarrow_strings_on_spark_paths(spark, tmp_path, rows, other,
                                        dict_cols):
    """A pyarrow-backed string column on a path that builds the Spark
    frame (an all-None sibling column, or a dictionary column) is handed
    to ``createDataFrame`` as an object column: given the Arrow column,
    Spark shifts its values by a row (3 rows read back ['', 'a', None])
    or fails in ``UTF8String.copy`` (5 rows)."""
    vals = ["a", "bb", None, "dddd", "e"][:rows]
    side = [None] * rows if other == "void" else list(range(rows))
    lib = Arctic(str(tmp_path), spark).create_library(
        "l", library_options=LibraryOptions(dictionary_columns=dict_cols))
    lib.write("s", pd.DataFrame({"s": pd.array(vals, dtype="string[pyarrow]"),
                                 other: side}))
    want = pd.DataFrame({"s": pd.Series(vals, dtype=object), other: side})
    pd.testing.assert_frame_equal(lib.read("s", output_format="pandas"),
                                  want, check_exact=True)


def test_append_update_stage_match_forced_path(libs, monkeypatch):
    """The same history through both paths stores and reads the same."""
    def history(lib):
        base = pd.DataFrame(
            {"a": np.arange(20, dtype="int64"), "b": np.linspace(0, 1, 20),
             "s": [f"r{i % 3}" for i in range(20)]},
            index=pd.date_range("2024-01-01", periods=20, freq="s"))
        lib.write("h", base.iloc[:10])
        lib.append("h", base.iloc[10:15])
        upd = base.iloc[3:6].copy()
        upd["b"] = -1.0
        lib.update("h", upd)
        lib.stage("h", base.iloc[15:])
        lib.finalize_staged_data("h", mode="append")
    history(libs["derived"])
    with monkeypatch.context() as mp:
        _decline(mp)
        history(libs["forced"])
    assert _stored(libs["derived"], "h") == _stored(libs["forced"], "h")
    _assert_same_read(libs["derived"].read("h", output_format="pandas"),
                      libs["forced"].read("h", output_format="pandas"))


def test_eligible_pandas_ops_send_no_py4j_command(libs, monkeypatch):
    lib = libs["derived"]

    def frame(start, n=30):
        return pd.DataFrame(
            {"a": np.arange(n, dtype="int64"), "b": np.ones(n)},
            index=pd.date_range("2024-01-01", periods=n, freq="s")
            + pd.Timedelta(seconds=start))
    lib.write("p", frame(0))
    ops = {
        "write": lambda: lib.write("p2", frame(0), dedup=False),
        "append": lambda: lib.append("p", frame(30)),
        "update": lambda: lib.update("p", frame(10, 5)),
        "stage": lambda: lib.stage("p", frame(60)),
    }
    for name, op in ops.items():
        assert py4j_calls(monkeypatch, op) == 0, name


def test_transform_builds_frame_once(spark, tmp_path):
    """A dictionary column is a transform: the record's Spark frame is
    built for it, and the stored result equals the forced path's."""
    lib = Arctic(str(tmp_path), spark).create_library(
        "d", library_options=LibraryOptions(dictionary_columns=("s",)))
    df = _frame(s=["a", "b", "a", None, "c", "b"],
                v=np.arange(N, dtype="int64"))
    n = lib._normalize(df)
    assert n._frame is None
    assert n.frame() is n.frame()
    assert n.frame().schema.json() == n.schema.json()
    lib.write("d", df)
    pd.testing.assert_frame_equal(lib.read("d", output_format="pandas"), df,
                                  check_exact=True, check_freq=False)
