"""Staged chunks are read through one record builder and one reader
(``Library._staged_records`` / ``Library._read_staged``): finalize opens
each staged footer and each chunk sidecar once, and ``read(incomplete=True)``
unions the chunks under the same promoted schema without a Spark job."""
import builtins
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from arcticdb_spark.catalog import Arctic
from tests.counters import jobs_run


def _chunk(day: int, dtype="float64", n: int = 4) -> pd.DataFrame:
    return pd.DataFrame(
        {"v": np.arange(n, dtype=dtype)},
        index=pd.date_range(f"2024-01-{day:02d}", periods=n, freq="h",
                            name="ts"))


@pytest.mark.parametrize("finalize", [
    lambda lib: lib.finalize_staged_data("sym", validate_index=True),
    lambda lib: lib.sort_and_finalize_staged_data("sym"),
], ids=["finalize_validate_index", "sort_and_finalize"])
def test_finalize_opens_each_staged_footer_and_sidecar_once(
        tmp_lib, monkeypatch, finalize):
    segs = [s for day in (1, 2, 3)
            for s in tmp_lib.stage("sym", _chunk(day)).staged_segments]
    sidecars = sorted({os.path.join(os.path.dirname(s),
                                    "_asdb_staged_meta.json") for s in segs})
    assert len(sidecars) == 3 and all(map(os.path.exists, sidecars))
    footers, data_opens, reads = [], [], []

    class CountingParquetFile(pq.ParquetFile):
        # an open handed a parsed footer (``metadata=``) reads data pages
        # only; any other open parses the footer
        def __init__(self, source, *args, **kwargs):
            (data_opens if kwargs.get("metadata") is not None
             else footers).append(str(source))
            super().__init__(source, *args, **kwargs)

    real_open = builtins.open

    def counting_open(file, *args, **kwargs):
        reads.append(str(file))
        return real_open(file, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", CountingParquetFile)
    monkeypatch.setattr(builtins, "open", counting_open)
    finalize(tmp_lib)
    monkeypatch.undo()
    assert {s: footers.count(s) for s in segs} == {s: 1 for s in segs}
    # the driver finalize reads each file's data once, on its parsed footer
    assert {s: data_opens.count(s) for s in segs} == {s: 1 for s in segs}
    assert {p: reads.count(p) for p in sidecars} == {p: 1 for p in sidecars}
    out = tmp_lib.read("sym", output_format="pandas")
    pd.testing.assert_frame_equal(
        out, pd.concat([_chunk(1), _chunk(2), _chunk(3)]))


def test_incomplete_read_promotes_like_finalize(spark, tmp_path):
    lib = Arctic(str(tmp_path), spark).create_library("dyn",
                                                      dynamic_schema=True)
    lib.stage("sym", _chunk(1, "float32"))
    lib.stage("sym", _chunk(2, "float64"))
    live = lib.read("sym", incomplete=True, output_format="pandas")
    assert live["v"].dtype == np.float64
    lib.finalize_staged_data("sym")
    done = lib.read("sym", output_format="pandas")
    assert done["v"].dtype == np.float64
    # a staged-only incomplete read restores the DatetimeIndex from the
    # chunk sidecars, like finalize
    assert isinstance(live.index, pd.DatetimeIndex)
    assert live.index.name == done.index.name == "ts"
    pd.testing.assert_frame_equal(live.sort_index(), done)


def test_incomplete_spark_read_starts_no_job(spark, tmp_lib):
    tmp_lib.write("sym", _chunk(1))
    tmp_lib.stage("sym", _chunk(2))
    tmp_lib.stage("sym", _chunk(3))
    holder = {}
    jobs = jobs_run(spark, lambda: holder.setdefault(
        "df", tmp_lib.read("sym", incomplete=True, output_format="spark")))
    assert jobs == 0
    assert holder["df"].count() == 12
