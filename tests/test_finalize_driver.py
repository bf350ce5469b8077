"""Staged finalize runs on the driver with pyarrow
(``Library._finalize_arrow``) and falls back to the same read, sort and
write on Spark (``Library._finalize_spark``) when it declines. The driver
path starts no Spark job; its output equals the forced Spark path's with
``check_exact=True``; both keep arrival order for an unsorted finalize;
each decline names its reason. ``sort_index`` rewrites on the driver too."""
import contextlib
import json
import os
import types

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from arcticdb_spark import arrowwrite as aw
from arcticdb_spark import catalog
from arcticdb_spark.catalog import Arctic, Library, LibraryOptions
from tests.counters import jobs_run

T0 = pd.Timestamp("2024-01-01")


def _ix(seconds, tz=None):
    ix = pd.DatetimeIndex([T0 + pd.Timedelta(seconds=s) for s in seconds])
    return ix.tz_localize(tz) if tz else ix


def _f(seconds, tz=None, **cols):
    n = len(seconds)
    cols = cols or {"v": np.arange(n, dtype="float64") + seconds[0]}
    return pd.DataFrame(cols, index=_ix(seconds, tz))


def _cases():
    big = np.int64(2 ** 53 + 1)   # rounds when cast to float64
    return {
        # equal timestamps across (and within) chunks: stage order breaks
        # the tie, each chunk's own row order survives
        "equal_ts": (False, None, [_f([1, 1, 2]), _f([0, 1, 1])], {}),
        "append_sorted": (False, _f(range(5)),
                          [_f([9, 7, 8]), _f([5, 6, 6])],
                          {"mode": "append", "sort": True}),
        "float32_64": (True, None,
                       [_f([0, 1], v=np.float32([0.1, 0.2])),
                        _f([2, 3], v=np.float64([0.3, 0.4]))], {}),
        "missing_col": (True, None,
                        [_f([0, 1], v=[1.5, 2.5], i=np.int64([3, 4]),
                            b=[True, True]),
                         _f([2, 3], v=[3.5, 4.5])], {}),
        "int_to_float": (True, None,
                         [_f([0], v=np.array([big])), _f([1], v=[0.5])], {}),
        "uint64": (False, None,
                   [_f([0, 1], u=np.array([2 ** 63 + 7, 9], dtype="uint64")),
                    _f([2], u=np.array([1], dtype="uint64"))], {}),
        "tz": (False, None, [_f([3, 4], tz="US/Eastern"),
                             _f([0, 1], tz="US/Eastern")], {"sort": True}),
        "unsorted": (False, None, [_f(range(10, 13)), _f(range(0, 200)),
                                   _f(range(5, 45))],
                     {"sort": False, "validate_index": False}),
    }


@pytest.fixture(scope="module")
def libs(spark, tmp_path_factory):
    ac = Arctic(str(tmp_path_factory.mktemp("finalize_driver")), spark)
    return {False: ac.create_library("static"),
            True: ac.create_library(
                "dyn", library_options=LibraryOptions(dynamic_schema=True))}


def _finalize(lib, monkeypatch, sym, path, **kw):
    """Finalize ``sym`` on the driver or the forced Spark path; returns
    what ``_finalize_arrow`` returned for each call and the jobs run."""
    got = []
    real = Library._finalize_arrow

    def spy(self, *a, **k):
        got.append(real(self, *a, **k) if path == "driver"
                   else "forced Spark path")
        return got[-1]

    with monkeypatch.context() as mp:
        mp.setattr(Library, "_finalize_arrow", spy)
        jobs = jobs_run(lib.spark,
                        lambda: lib.finalize_staged_data(sym, **kw))
    return got, jobs


def _latest(lib, sym):
    return lib._load_manifest(sym, lib._load_ref(sym)["latest"])


# the Spark fallbacks' row order must not depend on how AQE coalesces or
# numbers the shuffle partitions
_SPARK_CONFS = {
    "spark": {},
    "spark_no_coalesce": {
        "spark.sql.adaptive.coalescePartitions.enabled": "false"},
    "spark_no_aqe": {"spark.sql.adaptive.enabled": "false"},
    "spark_coalesce_to_size": {
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "7",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB"},
}


@contextlib.contextmanager
def _spark_path(spark, path):
    """Session settings of a ``_SPARK_CONFS`` path, restored on exit."""
    confs = _SPARK_CONFS.get(path, {})
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize("case", sorted(_cases()))
def test_driver_finalize_matches_spark(libs, monkeypatch, case):
    dynamic, base, chunks, kw = _cases()[case]
    lib = libs[dynamic]
    out = {}
    for path in ("driver", "spark"):
        sym = f"{case}_{path}"
        if base is not None:
            lib.write(sym, base)
        for c in chunks:
            lib.stage(sym, c, validate_index=False)
        got, jobs = _finalize(lib, monkeypatch, sym, path, **kw)
        assert len(got) == 1
        if path == "driver":
            assert not isinstance(got[0], str), got[0]
            assert jobs == 0
        m = _latest(lib, sym)
        out[path] = (lib.read(sym, output_format="pandas"), m.schema_json,
                     m.norm_meta, [fe.rows for fe in m.files])
    pd.testing.assert_frame_equal(out["driver"][0], out["spark"][0],
                                  check_exact=True)
    assert out["driver"][1:] == out["spark"][1:]
    if kw.get("sort") is False:
        want = pd.concat(chunks)
    else:
        want = pd.concat(([] if base is None else [base]) + chunks)
        want = want.sort_index(kind="stable")
    assert out["driver"][0].index.equals(want.index)


@pytest.mark.parametrize("rows_per_file", [1_000_000, 64])
@pytest.mark.parametrize("path", ["driver", *_SPARK_CONFS])
def test_unsorted_finalize_keeps_arrival_order(spark, tmp_path, monkeypatch,
                                               path, rows_per_file):
    """Chunks of 3, 200 and 40 rows staged in that order come back in that
    order; Spark packs small files into partitions largest first, so a
    write that took its order from the scan returned 200, 40, 3."""
    lib = Arctic(str(tmp_path), spark).create_library(
        "arrival", rows_per_file=rows_per_file)
    chunks = [_f(range(300, 303)), _f(range(0, 200)), _f(range(200, 240))]
    for c in chunks:
        lib.stage("sym", c)
    with _spark_path(spark, path):
        got, _ = _finalize(lib, monkeypatch, "sym", path, sort=False,
                           validate_index=False)
    assert isinstance(got[0], str) == (path != "driver")
    pd.testing.assert_frame_equal(lib.read("sym", output_format="pandas"),
                                  pd.concat(chunks), check_exact=True)
    if path == "driver":
        want = [243] if rows_per_file > 243 else [64, 64, 64, 51]
        assert [fe.rows for fe in _latest(lib, "sym").files] == want


# --- decline reasons ------------------------------------------------------

def _reason(lib, monkeypatch, sym, **kw):
    got, _ = _finalize(lib, monkeypatch, sym, "driver", **kw)
    assert len(got) == 1 and isinstance(got[0], str)
    return got[0]


def _rewrite_chunk(path, drop=(), footer=True):
    """Rewrite a staged file without ``drop`` columns and, unless
    ``footer``, without the Spark footer key."""
    tbl = pq.read_table(path)
    keep = [c for c in tbl.column_names if c not in drop]
    meta = tbl.schema.metadata if footer else None
    if footer and drop:
        sch = T.StructType.fromJson(json.loads(meta[aw.ROW_METADATA_KEY]))
        meta = {aw.ROW_METADATA_KEY: T.StructType(
            [f for f in sch.fields if f.name in keep]).json().encode()}
    pq.write_table(tbl.select(keep).replace_schema_metadata(meta), path)


def test_declines_without_footer_key(tmp_lib, monkeypatch):
    for s in tmp_lib.stage("sym", _f([0, 1])).staged_segments:
        _rewrite_chunk(s, footer=False)
    assert _reason(tmp_lib, monkeypatch, "sym") == \
        "a staged file has no Spark footer key"
    assert tmp_lib.read("sym", output_format="pandas").index.equals(
        _ix([0, 1]))


def test_declines_without_order_helpers(tmp_lib, monkeypatch):
    for s in tmp_lib.stage("sym", _f([0, 1])).staged_segments:
        _rewrite_chunk(s, drop=catalog._STAGE_HELPERS)
    assert _reason(tmp_lib, monkeypatch, "sym") == \
        "a staged chunk lacks the order helpers"


def test_declines_timestamp_index(tmp_lib, monkeypatch):
    """A stream chunk's index is a µs timestamp column."""
    d = os.path.join(tmp_lib._staging_dir("sym"), "00000000000000000001x")
    n = 3
    tbl = pa.table({
        "ts": pa.array(_ix(range(n)).as_unit("us")).cast(
            pa.timestamp("us", tz="UTC")),
        "v": pa.array(np.arange(n, dtype="float64")),
        "__stage_seq__": pa.array(np.ones(n, dtype="int64")),
        "__stage_pos__": pa.array(np.arange(n, dtype="int64"))})
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("__stage_seq__", T.LongType()),
        T.StructField("__stage_pos__", T.LongType())])
    aw.write_slices(tbl, d, n, schema.json())
    assert _reason(tmp_lib, monkeypatch, "sym") == \
        "the index column is timestamp-typed"
    out = tmp_lib.read("sym", output_format="pandas")
    assert list(out["v"]) == [0.0, 1.0, 2.0]


def test_declines_unstored_index(tmp_lib):
    """An index_column no chunk stores: Spark raises its own error."""
    tmp_lib.stage("sym", _f([0, 1]))
    recs = tmp_lib._staged_records(tmp_lib._staged_segment_files("sym"))
    assert tmp_lib._finalize_arrow("sym", recs, "nope", None, None) == \
        "the index column is not stored"


def test_declines_float_index(tmp_lib, monkeypatch):
    tmp_lib.stage("sym", pd.DataFrame({"x": [2.0, np.nan, 1.0]}))
    assert _reason(tmp_lib, monkeypatch, "sym", index_column="x",
                   sort=True) == "a float index sorts NaN unlike Spark"


def test_declines_dictionary_columns(spark, tmp_path, monkeypatch):
    lib = Arctic(str(tmp_path), spark).create_library(
        "dict", library_options=LibraryOptions(dictionary_columns=["d"]))
    lib.stage("sym", _f([0, 1], d=["a", "b"]))
    assert _reason(lib, monkeypatch, "sym") == "dictionary_columns are set"
    assert list(lib.read("sym", output_format="pandas")["d"]) == ["a", "b"]


def test_declines_type_outside_physical_types(tmp_lib, monkeypatch):
    tmp_lib.stage("sym", _f([0, 1], t=_ix([5, 6])))
    assert _reason(tmp_lib, monkeypatch, "sym") == \
        "a staged type is outside arrowwrite.physical_type"


def test_declines_legacy_us_index_target(tmp_lib):
    """A symbol whose index is stored as a µs timestamp (written before
    the index was stored as int64 ns)."""
    tmp_lib.stage("sym", _f([0, 1]))
    recs = tmp_lib._staged_records(tmp_lib._staged_segment_files("sym"))
    idx = recs[0].side["index_column"]
    prev = types.SimpleNamespace(
        norm_meta={},
        schema_json=T.StructType([T.StructField(idx, T.TimestampType())])
        .json())
    assert tmp_lib._finalize_arrow("sym", recs, idx, None, prev) == \
        "the target's legacy µs index needs _align_index_phys"


def test_declines_over_driver_cap(tmp_lib, monkeypatch):
    tmp_lib.stage("sym", _f([0, 1]))
    monkeypatch.setattr(catalog, "_DRIVER_READ_BYTES_MAX", 0)
    assert _reason(tmp_lib, monkeypatch, "sym") == \
        "the staged files exceed _DRIVER_READ_BYTES_MAX"


# --- sort_index -----------------------------------------------------------

@pytest.mark.parametrize("path", ["driver", *_SPARK_CONFS])
def test_sort_index_keeps_row_order_of_ties(spark, tmp_lib, monkeypatch,
                                            path):
    """sort_index of out-of-order appends equals the stable pandas sort:
    equal index values keep row order on both paths (Spark packs the
    50-row file first, so a scan-order tiebreak put its rows first); the
    driver path runs no job."""
    parts = [_f([6, 6]), _f([0] * 3 + [6] * 44 + [9] * 3), _f([1, 6, 6])]
    tmp_lib.write("sym", parts[0])
    for p in parts[1:]:
        tmp_lib.append("sym", p, validate_index=False)
    with monkeypatch.context() as mp, _spark_path(spark, path):
        if path != "driver":
            mp.setattr(Library, "_rewrite_arrow", lambda *a, **k: None)
        jobs = jobs_run(spark, lambda: tmp_lib.sort_index("sym"))
    assert (jobs == 0) == (path == "driver")
    pd.testing.assert_frame_equal(
        tmp_lib.read("sym", output_format="pandas"),
        pd.concat(parts).sort_index(kind="stable"), check_exact=True)
