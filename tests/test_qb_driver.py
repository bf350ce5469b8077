"""QueryBuilder reads to pandas/arrow run on the driver (``arrowquery.run``
over the pyarrow scan of the pruned files). Differential check: each
QueryBuilder's driver result equals the Spark path's result — forced by
patching ``arrowquery.run`` to decline — through the same finisher, with
exact values and dtypes. The Spark path leaves the rows of a
filter/project pipeline in scan order and those of a groupby in hash
order, so these results are compared after sorting on the index / group
key; a resample, ordered on both paths, is compared as returned. Float
data are multiples of 1/4 so that sums do not depend on the summation
order."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from arcticdb_spark import QueryBuilder, arrowquery
from arcticdb_spark import catalog
from arcticdb_spark.catalog import Arctic, LibraryOptions
from arcticdb_spark.expr import where
from tests.counters import jobs_run

T0 = pd.Timestamp("2024-01-01")
N = 48


def _frame(n=N, unit="ns"):
    rng = np.random.default_rng(11)
    # sub-µs ticks: the µs view and the exact ns index differ
    idx = pd.DatetimeIndex(T0.value + np.arange(n) * 13_000_000_007 + 3)
    if unit == "us":
        idx = pd.date_range(T0, periods=n, freq="7s").as_unit("us")
    a = rng.integers(-8, 8, n) / 4
    a[3::14] = np.nan
    f = (rng.integers(-8, 8, n) / 4).astype(np.float32)
    f[5::20] = np.nan
    strs = np.array((["x", "y", None, "zz"] * n)[:n], dtype=object)
    return pd.DataFrame({
        "a": a,
        "b": rng.integers(-2, 3, n) / 2,          # zeros: zero divisors
        "f": f,
        "i": rng.integers(-3, 4, n).astype(np.int32),
        "j": (2**62 + rng.integers(0, 5, n)).astype(np.int64),
        "s": strs,
        "d": strs.copy(),                          # dictionary-coded
        "t": rng.integers(0, 2, n).astype(bool),
        "w": pd.date_range("2024-02-01", periods=n, freq="h"),
    }, index=idx)


@pytest.fixture(scope="module")
def lib(spark, tmp_path_factory):
    ac = Arctic(str(tmp_path_factory.mktemp("qb_driver")), spark)
    lib = ac.create_library("qb", library_options=LibraryOptions(
        rows_per_segment=8, dictionary_columns=("d",)))
    lib.write("ns", _frame())
    lib.write("us", _frame(unit="us"))
    nat = _frame(12)
    nat.index = pd.DatetimeIndex([pd.NaT, *nat.index[1:6], pd.NaT,
                                  *nat.index[7:]])
    lib.write("nat", nat, validate_index=False)
    lib.write("rows", _frame(6).reset_index(drop=True))
    lib.write("uint", pd.DataFrame(
        {"u": np.arange(N, dtype=np.uint64) + np.uint64(2**63),
         "a": _frame()["a"]}, index=_frame().index))
    dyn = ac.create_library("qb_dyn", library_options=LibraryOptions(
        rows_per_segment=8, dynamic_schema=True))
    base = _frame()
    dyn.write("epochs", base.iloc[:24][["a", "i"]])
    dyn.append("epochs", base.iloc[24:][["a", "i", "b"]])
    lib.dyn = dyn
    return lib


def _q():
    return QueryBuilder()


def _builders():
    b = {}
    q = _q()
    b["filter"] = q[q["a"] > 0]
    q = _q()
    b["filter_kleene"] = q[((q["a"] != 0.5) | (q["s"] == "x"))
                           & ~q["t"] & q["s"].isnotin(["y"])]
    q = _q()
    b["filter_isin_isnull"] = q[q["i"].isin([1, 2, 2.5]) | q["f"].isnull()
                                | (q["w"] > pd.Timestamp("2024-02-01 20:00"))]
    q = _q()
    b["project"] = (q.apply("r", q["a"] / q["b"])
                    .apply("r2", q["i"] / (q["i"] - q["i"]))
                    .apply("ov", q["j"] * 4 + q["j"])
                    .apply("p", q["i"] ** 2)
                    .apply("n", -q["f"])
                    .apply("ab", abs(q["i"]))
                    .apply("c", where(q["a"] > 0, q["i"], 7))
                    .apply("e", where(q["t"], "p", q["s"]))
                    .apply("k", 5)
                    .apply("cmp", q["f"] >= q["a"])
                    .apply("a", q["a"] * 2))
    q = _q()
    b["zero_divisor_filter"] = q[(q["a"] / q["b"]) > 1e300]
    q = _q()
    b["empty_result"] = q[q["i"] > 100].apply("x", q["a"] + 1)
    aggs = {"a": "sum", "b": "mean", "f": "min", "i": "max", "s": "count",
            "j": "first", "t": "last", "fl": ("f", "last"),
            "ts_": ("t", "sum"), "dm": ("d", "first"), "fc": ("f", "count")}
    b["resample"] = _q().resample("1min").agg(aggs)
    for origin in ("start", "start_day", "end", "end_day",
                   pd.Timestamp("2023-12-31 23:59:59.999999999")):
        b[f"resample_origin_{origin}"] = _q().resample(
            "3min", origin=origin).agg({"a": "mean", "i": "count"})
    b["resample_offset_right"] = _q().resample(
        "2min", closed="right", label="right", offset="7s").agg(
            {"a": "sum", "f": "max"})
    # the first row on a right-closed edge, and 1 ns past one
    for name, lag in (("on_edge", 3), ("edge_plus_1ns", 2)):
        b[f"resample_right_{name}"] = _q().resample(
            "1min", closed="right", origin=pd.Timestamp(T0.value + lag)).agg(
                {"a": "sum", "i": "first"})
    q = _q()
    b["filter_resample"] = q[q["a"] > 0].resample("1min").agg(
        {"b": "mean", "a": "sum"})
    q = _q().resample("1min").agg({"a": "sum", "b": "max"})
    b["resample_then_filter_date_range"] = q[q["a"] >= 0].date_range(
        (T0 + pd.Timedelta("3min"), T0 + pd.Timedelta("8min")))
    b["groupby_str"] = _q().groupby("s").agg(
        {"a": "sum", "b": "mean", "f": "max", "i": "min", "j": "count",
         "t": "first", "bl": ("b", "last")})
    b["groupby_dict"] = _q().groupby("d").agg({"a": "sum", "i": "max"})
    b["groupby_float"] = _q().groupby("a").agg({"i": "sum", "f": "first"})
    b["groupby_multi"] = _q().groupby(["t", "i"]).agg({"a": "mean"})
    q = _q()
    b["project_groupby_filter"] = q.apply("m", q["i"] * 2).groupby("m").agg(
        {"a": "sum"})
    q = b["project_groupby_filter"]
    b["project_groupby_filter"] = q[q["a"] > 0]
    b["date_range_clause"] = _q().date_range(
        (T0 + pd.Timedelta("1min"), None)).groupby("s").agg({"a": "sum"})
    return b


ORDERED = {k for k in _builders() if "resample" in k and "groupby" not in k}
# (symbol, builder, read kwargs) beyond every builder on "ns"
EXTRA = {
    "us_resample": ("us", "resample", {}),
    "us_filter": ("us", "filter", {}),
    # 7 s ticks fall on the right-closed 2 min + 7 s edges
    "us_resample_right": ("us", "resample_offset_right", {}),
    "nat_resample": ("nat", "resample", {}),
    "nat_filter": ("nat", "filter_kleene", {}),
    "rows_groupby": ("rows", "groupby_str", {}),
    "date_range_param": ("ns", "filter_resample", {
        "date_range": (T0 + pd.Timedelta(seconds=70),
                       T0 + pd.Timedelta(seconds=400))}),
    "date_range_param_sub_us": ("ns", "filter", {
        "date_range": (pd.Timestamp(T0.value + 13_000_000_007 * 4 + 3),
                       pd.Timestamp(T0.value + 13_000_000_007 * 9 + 3))}),
    "date_range_pruned_empty": ("ns", "groupby_str", {
        "date_range": (T0 + pd.Timedelta("1D"), None)}),
    "columns": ("ns", "project", {"columns": ["r", "s"]}),
}
CASES = {**{k: ("ns", k, {}) for k in _builders()}, **EXTRA}


def _arrow_same(got, want):
    assert got.schema.equals(want.schema), (got.schema, want.schema)
    for name in got.column_names:
        g, w = got.column(name), want.column(name)
        if pa.types.is_floating(g.type):
            # Table.equals takes NaN as unequal to itself
            assert pc.is_nan(g).equals(pc.is_nan(w)), name
            g, w = (pc.if_else(pc.is_nan(x), pa.scalar(0, x.type), x)
                    for x in (g, w))
        assert g.equals(w), name


def _sorted(out, ordered):
    if ordered:
        return out
    if isinstance(out, pd.DataFrame):
        return out.sort_index(kind="stable")
    return out.sort_by([(c, "ascending") for c in out.column_names[:2]])


def _read_both(lib, monkeypatch, sym, q, fmt, **kw):
    """(driver result, Spark result, whether the driver served it)."""
    served = []
    real = arrowquery.run

    def spy(*a, **k):
        out = real(*a, **k)
        served.append(out is not None)
        return out

    with monkeypatch.context() as mp:
        mp.setattr(arrowquery, "run", spy)
        got = lib.read(sym, query_builder=q, output_format=fmt, **kw)
    with monkeypatch.context() as mp:
        mp.setattr(arrowquery, "run", lambda *a, **k: None)
        want = lib.read(sym, query_builder=q, output_format=fmt, **kw)
    return got, want, served == [True]


def _assert_same(got, want, ordered):
    got, want = _sorted(got, ordered), _sorted(want, ordered)
    if isinstance(want, pd.DataFrame):
        pd.testing.assert_frame_equal(got, want, check_exact=True)
    else:
        _arrow_same(got, want)


@pytest.mark.parametrize("fmt", ["pandas", "arrow"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_driver_matches_spark(lib, monkeypatch, case, fmt):
    sym, name, kw = CASES[case]
    got, want, served = _read_both(lib, monkeypatch, sym, _builders()[name],
                                   fmt, **kw)
    assert served, case
    _assert_same(got, want, name in ORDERED)


def test_division_by_zero_is_ieee(lib):
    pdf = pd.DataFrame({"a": [1.0, -1.0, 0.0, 2.0], "b": [0.0, 0.0, 0.0, 1.0],
                        "i": [1, 0, 3, 4], "j": [0, 0, 1, 2]})
    lib.write("div", pdf)
    want = {"r": [np.inf, -np.inf, np.nan, 2.0],
            "ri": [np.inf, np.nan, 3.0, 2.0]}
    q = _q()
    q = q.apply("r", q["a"] / q["b"]).apply("ri", q["i"] / q["j"])
    for fmt in ("spark", "pandas"):
        out = lib.read("div", query_builder=q, output_format=fmt)
        if fmt == "spark":
            out = out.toPandas()
        for c, vals in want.items():
            np.testing.assert_array_equal(out[c].to_numpy(), vals)
    q = _q()
    q = q[(q["a"] / q["b"]) > 1e300]
    assert len(lib.read("div", query_builder=q, output_format="pandas")) == 1
    assert lib.read("div", query_builder=q).count() == 1


def test_driver_reads_run_no_spark_job(spark, lib):
    b = _builders()
    for name in ("resample", "groupby_str", "project"):
        def fn():
            return lib.read("ns", query_builder=b[name],
                            output_format="pandas")
        fn()
        assert jobs_run(spark, fn) == 0, name


@pytest.mark.parametrize("case", ["uint64", "cap", "epoch", "head"])
def test_declines_match_spark(lib, monkeypatch, case):
    q = _q()
    q = q[q["a"] > 0].resample("1min").agg({"a": "sum"})
    target, sym = lib, "ns"
    if case == "uint64":
        sym = "uint"
    elif case == "cap":
        monkeypatch.setattr(catalog, "_DRIVER_READ_BYTES_MAX", 0)
    elif case == "epoch":
        target, sym = lib.dyn, "epochs"
    else:
        q = _q().head(5)
    got, want, served = _read_both(target, monkeypatch, sym, q, "pandas")
    assert not served
    _assert_same(got, want, case != "head")
