"""Plain pandas/arrow reads are served by the driver-side pyarrow scan
(``Library._scan_files_arrow``). Differential check: for every symbol
shape and read option, the driver scan's output equals the Spark
collector's output fed through the same finisher, and the plain reads (and
a filter QueryBuilder read) run no Spark job while a head QueryBuilder
read still does."""

import numpy as np
import pandas as pd
import pytest

from arcticdb_spark import QueryBuilder
from arcticdb_spark.catalog import Arctic, Library, LibraryOptions
from arcticdb_spark.timeframe import TimeFrame
from tests.counters import jobs_run

T0 = pd.Timestamp("2024-01-01")


def _ns_index(n):
    # ns offsets that are not whole microseconds: the µs Spark view and
    # the exact ns rebuild differ unless the ns shadow is honoured
    return pd.DatetimeIndex(T0.value + np.arange(n) * 1_000_000_007 + 3)


def _shapes(n=10):
    ts = _ns_index(n)
    rng = np.random.default_rng(5)
    vals = rng.normal(size=n)
    strs = pd.Series(["a", None, "ccc", "", "b", None, "x", "yy", "z",
                      "q"][:n], dtype=object)
    return {
        "dt": pd.DataFrame({"v": vals, "i": np.arange(n)}, index=ts),
        "dt_nat": pd.DataFrame({"v": vals},
                               index=pd.DatetimeIndex([pd.NaT, *ts[1:]])),
        "range_default": pd.DataFrame({"v": vals, "s": strs.values}),
        "range_custom": pd.DataFrame(
            {"v": vals}, index=pd.RangeIndex(10, 10 + 3 * n, 3, name="r")),
        "named": pd.DataFrame({"v": vals},
                              index=pd.Index(np.arange(n) * 2, name="k")),
        "multi": pd.DataFrame(
            {"v": vals},
            index=pd.MultiIndex.from_arrays(
                [ts, [f"k{i % 3}" for i in range(n)]], names=["t", "key"])),
        "tz": pd.DataFrame(
            {"v": vals,
             "when": pd.date_range("2024-03-01", periods=n, freq="h",
                                   tz="America/New_York")}, index=ts),
        "uints": pd.DataFrame(
            {"u64": (np.arange(n, dtype=np.uint64)
                     + np.uint64(2 ** 63 + 5)),
             "u8": np.arange(n, dtype=np.uint8) * 20}, index=ts),
        "cat": pd.DataFrame(
            {"c": pd.Categorical((["x", "y", "x", "z", "y"] * 2)[:n]),
             "v": vals}, index=ts),
        "strs": pd.DataFrame({"s": strs.values, "v": vals}, index=ts),
        "void": pd.DataFrame({"e": [None] * n, "v": vals}, index=ts),
        "series": pd.Series(vals, index=ts, name="ser"),
        "tf": TimeFrame(ts.values, ["a", "b"], [vals, np.arange(n) * 1.5]),
    }


DATETIME_SHAPES = {"dt", "multi", "tz", "uints", "cat", "strs", "void",
                   "series", "tf"}


@pytest.fixture(scope="module")
def lib(spark, tmp_path_factory):
    lib = Arctic(str(tmp_path_factory.mktemp("driver_scan")), spark) \
        .create_library("scan", library_options=LibraryOptions(
            rows_per_segment=3))
    # version 0 (also in the snapshot) holds the first 7 rows, version 1
    # all 10
    for n in (7, 10):
        for sym, data in _shapes(n).items():
            # a NaT index entry makes the index UNSORTED
            lib.write(sym, data, validate_index=sym != "dt_nat")
        if n == 7:
            lib.snapshot("snap")
    return lib


def _reads(lib, sym):
    m = lib._resolve_version(sym, None)
    total = m.total_rows
    reads = {
        "plain": {},
        "neg_row_range": {"row_range": (-7, -2)},
        "no_columns": {"columns": []},
        "as_of": {"as_of": 0},
        "snapshot": {"as_of": "snap"},
        "empty_row_range": {"row_range": (total + 2, total + 5)},
        "row_ids": {"with_row_ids": True},
        "row_ids_no_columns": {"with_row_ids": True, "columns": []},
    }
    if sym in DATETIME_SHAPES:
        f1, f2 = m.files[min(1, len(m.files) - 1)], m.files[-2:][0]
        reads["date_range_file_bounds"] = {
            "date_range": (pd.Timestamp(f1.ts_min, unit="ns"),
                           pd.Timestamp(f2.ts_max, unit="ns"))}
        reads["date_range_empty"] = {
            "date_range": (pd.Timestamp(m.ts_max + 10, unit="ns"), None)}
    return reads


def _spark_path(monkeypatch):
    monkeypatch.setattr(Library, "_scan_files_arrow",
                        lambda *a, **k: None)


def _assert_same(got, want):
    assert type(got) is type(want)
    if isinstance(got, pd.DataFrame):
        pd.testing.assert_frame_equal(got, want, check_exact=True)
    elif isinstance(got, pd.Series):
        pd.testing.assert_series_equal(got, want, check_exact=True)
    elif isinstance(got, TimeFrame):
        assert list(got.columns_names) == list(want.columns_names)
        np.testing.assert_array_equal(got.times, want.times)
        for a, b in zip(got.columns_values, want.columns_values):
            assert a.dtype == b.dtype
            np.testing.assert_array_equal(a, b)
    else:
        assert got.schema.equals(want.schema), (got.schema, want.schema)
        assert got.equals(want)


@pytest.mark.parametrize("fmt", ["pandas", "arrow"])
@pytest.mark.parametrize("sym", sorted(_shapes()))
def test_driver_scan_matches_spark_collector(lib, sym, fmt, monkeypatch):
    served = []
    real = Library._scan_files_arrow

    def spy(self, *a, **k):
        out = real(self, *a, **k)
        served.append(out is not None)
        return out

    for name, kw in _reads(lib, sym).items():
        served.clear()
        monkeypatch.setattr(Library, "_scan_files_arrow", spy)
        got = lib.read(sym, output_format=fmt, **kw)
        assert served == [True], name
        _spark_path(monkeypatch)
        want = lib.read(sym, output_format=fmt, **kw)
        try:
            _assert_same(got, want)
        except AssertionError as e:
            raise AssertionError(f"{sym} {fmt} {name}: {e}") from e


def test_date_range_bounds_are_inclusive(lib):
    m = lib._resolve_version("dt", None)
    f1, f2 = m.files[1], m.files[2]
    lo, hi = f1.ts_min, f2.ts_max
    out = lib.read("dt", date_range=(pd.Timestamp(lo, unit="ns"),
                                     pd.Timestamp(hi, unit="ns")),
                   output_format="pandas")
    assert out.index[0].value == lo and out.index[-1].value == hi
    assert len(out) == f1.rows + f2.rows


def test_plain_reads_run_no_spark_job(spark, lib):
    m = lib._resolve_version("dt", None)
    lo = pd.Timestamp(m.files[1].ts_min, unit="ns")
    syms = ["dt", "tz", "uints", "strs"]
    q = QueryBuilder()
    q = q[q["v"] > 0]
    reads = {
        "plain": lambda: lib.read("dt", output_format="pandas"),
        "date_range": lambda: lib.read("dt", date_range=(lo, None),
                                       output_format="pandas"),
        "as_of": lambda: lib.read("dt", as_of=0, output_format="pandas"),
        "read_batch": lambda: lib.read_batch(syms, output_format="pandas"),
        "filter": lambda: lib.read("dt", query_builder=q,
                                   output_format="pandas"),
    }
    for name, fn in reads.items():
        fn()   # first call may warm caches
        assert jobs_run(spark, fn, ungrouped=True) == 0, name
    head = QueryBuilder().head(3)
    assert jobs_run(spark, lambda: lib.read(
        "dt", query_builder=head, output_format="pandas"),
        ungrouped=True) >= 1


def test_read_batch_reads_driver_scans_in_turn(lib, monkeypatch):
    """A batch of driver-scan reads runs on the calling thread, item for
    item equal to single reads, through ``read_batch`` and the v1
    ``batch_read`` alike, and so does a batch of filter QueryBuilder
    reads; a batch the driver declines (a head clause) still fans out over
    the pool."""
    syms = ["dt", "tz", "uints", "strs"]
    want = [lib.read(s, output_format="pandas") for s in syms]
    pooled = []
    real = Library._pmap

    def spy(self, fn, items):
        pooled.append(len(items))
        return real(self, fn, items)

    monkeypatch.setattr(Library, "_pmap", spy)
    got = lib.read_batch(syms, output_format="pandas")
    assert pooled == []
    for g, w in zip(got, want):
        _assert_same(g, w)
    # the v1 batch_read (pandas data keyed by symbol) follows the same rule
    got = lib.batch_read(syms)
    assert pooled == []
    for s, w in zip(syms, want):
        _assert_same(got[s].data, w)
    q = QueryBuilder()
    q = q[q["v"] > 0]
    want = [lib.read(s, query_builder=q, output_format="pandas")
            for s in ("dt", "tz")]
    got = lib.read_batch(["dt", "tz"], query_builder=q,
                         output_format="pandas")
    assert pooled == []
    for g, w in zip(got, want):
        _assert_same(g, w)
    lib.read_batch(["dt", "tz"], query_builder=QueryBuilder().head(3),
                   output_format="pandas")
    assert pooled == [2]
