"""update / delete_data_in_range / compaction rewrite their files on the
driver with pyarrow (``Library._rewrite_arrow``). Differential check: for
every symbol shape and range, the read-back equals a pandas model row for
row, and equals the Spark rewrite path's (the primitive forced to decline);
every new file's manifest entry agrees with the file; the plain ops run no
Spark job; and each fallback gives the same result."""

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from arcticdb_spark import catalog
from arcticdb_spark.catalog import (Arctic, Library, LibraryOptions,
                                    UnsortedDataException, UpdatePayload)
from tests.counters import jobs_run

T0 = pd.Timestamp("2024-01-01").value
RPF = 4


def _ts(ns):
    return pd.Timestamp(int(ns), unit="ns")


def _ns_index(n, start=0):
    # ns offsets that are not whole microseconds
    return pd.DatetimeIndex(T0 + (start + np.arange(n)) * 1_000_000_007 + 3)


def _frame(n, start=0, seed=0):
    rng = np.random.default_rng(seed)
    return pd.DataFrame({"v": rng.normal(size=n),
                         "i": np.arange(start, start + n, dtype=np.int64)},
                        index=_ns_index(n, start))


def _shapes():
    n = 18
    base = _frame(n)
    ties = pd.DataFrame(
        {"i": np.arange(12, dtype=np.int64)},
        index=pd.DatetimeIndex([T0] * 3 + [T0 + 5] * 6 + [T0 + 9] * 3))
    return {
        "ns": base,
        "u64_dict": base.assign(
            u=np.arange(n, dtype=np.uint64) + np.uint64(2 ** 63 + 5),
            d=[f"k{i % 3}" for i in range(n)]),
        "void": base.assign(e=[None] * n),
        "ties": ties,
    }


def _update_frame(name, frame):
    if name == "ties":
        return pd.DataFrame({"i": np.array([100, 101], dtype=np.int64)},
                            index=pd.DatetimeIndex([T0 + 5, T0 + 5]))
    # rows 5..11 are replaced by 4 new rows: the range spans three files
    new = _frame(4, seed=1).set_axis(pd.DatetimeIndex(
        [frame.index[5].value, frame.index[6].value + 11,
         frame.index[9].value - 1, frame.index[11].value]))
    for c in frame.columns.difference(new.columns):
        new[c] = frame[c].iloc[:4].values
    return new[frame.columns]


def _ranges(name, frame):
    ix = frame.index
    if name == "ties":
        return {"tie_value": (_ts(T0 + 5), _ts(T0 + 5)),
                "open_hi": (_ts(T0 + 9), None)}
    return {
        # bounds 1 ns inside rows 5 and 12: µs truncation would differ
        "sub_us": (_ts(ix[4].value + 1), _ts(ix[12].value - 1)),
        "open_lo": (None, ix[6]),
        "open_hi": (ix[13], None),
        "one_row": (ix[8], ix[8]),
        "none": (_ts(ix[-1].value + 1), None),
    }


@pytest.fixture(scope="module")
def lib(spark, tmp_path_factory):
    return Arctic(str(tmp_path_factory.mktemp("rewrite_driver")), spark) \
        .create_library("rw", library_options=LibraryOptions(
            rows_per_segment=RPF, dynamic_schema=True,
            dictionary_columns=["d"]))


def _latest(lib, sym):
    return lib._load_manifest(sym, lib._load_ref(sym)["latest"])


def _check_entries(lib, sym, before):
    """Every file the op added: its entry's ts bounds are the file's index
    bounds and its schema is the manifest's physical schema."""
    m = _latest(lib, sym)
    phys = Library._phys_schema(m.schema_json).json()
    new = [fe for fe in m.files if fe.path not in before]
    for fe in new:
        iv = pq.read_table(fe.path, columns=[m.index_column]) \
            .column(0).to_numpy()
        assert (fe.rows, fe.ts_min, fe.ts_max) == (len(iv), iv.min(),
                                                   iv.max()), fe.path
        assert fe.schema_json == phys, fe.path
    return m


def _run(lib, monkeypatch, sym, frame, op, spark_path, served=True):
    """Write ``frame`` as ``sym``, run ``op`` on the driver or the Spark
    rewrite path; returns the read-back and the rows per file."""
    lib.write(sym, frame)
    before = {fe.path for fe in _latest(lib, sym).files}
    calls = []
    real = Library._rewrite_arrow

    def spy(self, *a, **k):
        out = None if spark_path else real(self, *a, **k)
        calls.append(out is not None)
        return out

    with monkeypatch.context() as mp:
        mp.setattr(Library, "_rewrite_arrow", spy)
        op(sym)
    if calls and not spark_path:
        assert calls == [served] * len(calls), (sym, calls)
    m = _check_entries(lib, sym, before)
    return lib.read(sym, output_format="pandas"), [fe.rows for fe in m.files]


def _both_paths(lib, monkeypatch, sym, frame, op, model):
    got = {}
    for path in ("arrow", "spark"):
        got[path] = _run(lib, monkeypatch, f"{sym}_{path}", frame, op,
                         path == "spark")
        pd.testing.assert_frame_equal(got[path][0], model, check_exact=True,
                                      obj=f"{sym} {path}")
    return got


@pytest.mark.parametrize("name", sorted(_shapes()))
def test_delete_data_in_range_matches_model(lib, monkeypatch, name):
    frame = _shapes()[name]
    for rname, (lo, hi) in _ranges(name, frame).items():
        keep = np.zeros(len(frame), bool)
        if lo is not None:
            keep |= frame.index < lo
        if hi is not None:
            keep |= frame.index > hi
        _both_paths(lib, monkeypatch, f"del_{name}_{rname}", frame,
                    lambda s: lib.delete_data_in_range(s, (lo, hi)),
                    frame[keep])


@pytest.mark.parametrize("name", sorted(_shapes()))
def test_update_matches_model(lib, monkeypatch, name):
    frame = _shapes()[name]
    new = _update_frame(name, frame)
    lo, hi = new.index[0], new.index[-1]
    model = pd.concat([frame[frame.index < lo], new, frame[frame.index > hi]])
    _both_paths(lib, monkeypatch, f"upd_{name}", frame,
                lambda s: lib.update(s, new), model)
    # an explicit range wider than the new rows, open-ended below
    hi = frame.index[-3]
    model = pd.concat([new, frame[frame.index > hi]])
    _both_paths(lib, monkeypatch, f"upd_range_{name}", frame,
                lambda s: lib.update(s, new, date_range=(None, hi)), model)


def _fragments():
    # 6 rows written as [4, 2], then six one-row appends: sub-minimum
    # slices (rows_per_segment 4 accepts 2..5 rows)
    return [_frame(6)] + [_frame(1, 6 + k, seed=k + 2) for k in range(6)]


def test_compaction_layout_matches_spark(lib, monkeypatch):
    """compact_data and append(compact_data=True) lay out the same files on
    both paths."""
    parts = _fragments()
    model = pd.concat(parts)

    def compact(s):
        for p in parts[1:]:
            lib.append(s, p)
        assert len(_latest(lib, s).files) == 8
        lib.compact_data(s)

    def inline(s):
        for p in parts[1:]:
            lib.append(s, p, compact_data=True)

    for name, op in (("compact", compact), ("inline", inline)):
        got = _both_paths(lib, monkeypatch, name, parts[0], op, model)
        assert got["arrow"][1] == got["spark"][1], name
        assert max(got["arrow"][1]) > 2 and min(got["arrow"][1]) >= 2, name


def test_update_batch_on_pool_threads(lib, monkeypatch):
    frames = {f"batch{i}": _frame(12, seed=i) for i in range(3)}
    for s, f in frames.items():
        lib.write(s, f)
    pooled, served = [], []
    real_pmap, real_rw = Library._pmap, Library._rewrite_arrow

    def pmap(self, fn, items):
        pooled.append(len(items))
        return real_pmap(self, fn, items)

    def rw(self, *a, **k):
        out = real_rw(self, *a, **k)
        served.append(out is not None)
        return out

    monkeypatch.setattr(Library, "_pmap", pmap)
    monkeypatch.setattr(Library, "_rewrite_arrow", rw)
    new = _frame(3, 4, seed=9)
    lib.update_batch([UpdatePayload(s, new) for s in frames])
    assert pooled == [3] and served == [True] * 3
    for s, f in frames.items():
        model = pd.concat([f.iloc[:4], new, f.iloc[7:]])
        pd.testing.assert_frame_equal(lib.read(s, output_format="pandas"),
                                      model, check_exact=True)


def test_rewrites_run_no_spark_job(spark, lib):
    frame = _frame(40)
    lib.write("jobs", frame)
    lib.read("jobs", output_format="pandas")
    ops = {
        "update": lambda: lib.update("jobs", _frame(6, 10, seed=3)),
        "delete_data_in_range": lambda: lib.delete_data_in_range(
            "jobs", (frame.index[20], frame.index[25])),
        "append_compact": lambda: lib.append(
            "jobs", _frame(1, 40), compact_data=True),
        "append": lambda: lib.append("jobs", _frame(1, 41)),
        "compact_data": lambda: lib.compact_data("jobs"),
    }
    for name, fn in ops.items():
        if name == "compact_data":
            assert lib.is_symbol_fragmented("jobs")
        v = _latest(lib, "jobs").version
        assert jobs_run(spark, fn) == 0, name
        assert _latest(lib, "jobs").version == v + 1, name
    assert not lib.is_symbol_fragmented("jobs")


def test_fallback_foreign_epoch(lib, monkeypatch):
    """Files written before a dynamic-schema column add are on another
    epoch: the Spark rewrite runs and backfills them."""
    frame, extra = _frame(12), _frame(4, 12).assign(w=np.arange(4.0))
    model = pd.concat([frame, extra])
    model = model[(model.index < frame.index[2])
                  | (model.index > frame.index[6])]

    def op(s):
        lib.append(s, extra)
        lib.delete_data_in_range(s, (frame.index[2], frame.index[6]))

    got, _ = _run(lib, monkeypatch, "epoch", frame, op, False, served=False)
    pd.testing.assert_frame_equal(got, model, check_exact=True)


def test_fallback_read_cap(lib, monkeypatch):
    frame = _frame(12)
    lo, hi = frame.index[3], frame.index[8]
    want, _ = _run(lib, monkeypatch, "cap_driver", frame,
                   lambda s: lib.delete_data_in_range(s, (lo, hi)), False)
    monkeypatch.setattr(catalog, "_DRIVER_READ_BYTES_MAX", 0)
    got, _ = _run(lib, monkeypatch, "cap", frame,
                  lambda s: lib.delete_data_in_range(s, (lo, hi)), False,
                  served=False)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_fallback_unlisted_type(lib, monkeypatch):
    """A timestamp data column is outside arrowwrite's whitelist."""
    frame = _frame(12).assign(when=pd.date_range("2024-03-01", periods=12,
                                                 freq="h"))
    new = frame.iloc[4:6].assign(v=[7.0, 8.0])
    model = pd.concat([frame.iloc[:4], new, frame.iloc[6:]])
    got, _ = _run(lib, monkeypatch, "unlisted", frame,
                  lambda s: lib.update(s, new), False, served=False)
    pd.testing.assert_frame_equal(got, model, check_exact=True)


def test_delete_unsorted_raises(lib):
    ix = pd.DatetimeIndex(["2024-01-05", "2024-01-01", "2024-01-03",
                           "2024-01-02", "2024-01-04"])
    lib.write("unsorted", pd.DataFrame({"i": np.arange(5)}, index=ix),
              validate_index=False)
    with pytest.raises(UnsortedDataException):
        lib.delete_data_in_range("unsorted", (ix[3], ix[3]))
    assert _latest(lib, "unsorted").version == 0
