"""Port of the reference's integration
test_arctic_library_management.py: creation/deletion semantics, the
get_library contract, options()/enterprise_options(), and
modify_library_option persistence."""

import os

import numpy as np
import pandas as pd
import pytest

from arcticdb_spark.catalog import (Arctic, EnterpriseLibraryOptions,
                                    LibraryNotFound, LibraryOptions,
                                    ModifiableLibraryOption)
from arcticdb_spark.exceptions import (ArcticInvalidApiUsageException,
                                       MismatchingLibraryOptions)


def test_library_creation_deletion(spark, tmp_path):
    """Port of test_library_creation_deletion:54-81."""
    ac = Arctic(str(tmp_path), spark)
    ac.create_library("lib")
    with pytest.raises(ValueError):
        ac.create_library("lib")
    assert "lib" in ac.list_libraries()
    assert ac.has_library("lib")
    assert "lib" in ac
    assert ac["lib"].name == "lib"
    ac.delete_library("lib")
    ac.delete_library("library_that_does_not_exist")   # silent
    assert "lib" not in ac.list_libraries()
    with pytest.raises(LibraryNotFound):
        _ = ac["lib"]
    assert not ac.has_library("lib")
    assert "lib" not in ac


def test_get_library(spark, tmp_path):
    """Port of test_get_library:84-119."""
    ac = Arctic(str(tmp_path), spark)
    with pytest.raises(LibraryNotFound):
        ac.get_library("missing")
    lib = ac.get_library("lib_do", create_if_missing=True)
    assert lib.options() == LibraryOptions(rows_per_segment=1_000_000)
    library_options = LibraryOptions(dynamic_schema=True, dedup=True,
                                     rows_per_segment=10,
                                     columns_per_segment=10)
    lib = ac.get_library("lib_so", create_if_missing=True,
                         library_options=library_options)
    assert lib.options() == library_options
    library_options.dynamic_schema = False
    with pytest.raises(MismatchingLibraryOptions):
        ac.get_library("lib_so", create_if_missing=True,
                       library_options=library_options)
    with pytest.raises(ArcticInvalidApiUsageException):
        ac.get_library("missing", create_if_missing=False,
                       library_options=library_options)


def test_create_library_enterprise_options_defaults(spark, tmp_path):
    """Port of test_create_library_enterprise_options_defaults:121-128."""
    lib = Arctic(str(tmp_path), spark).create_library("lib")
    enterprise_options = lib.enterprise_options()
    assert not enterprise_options.replication
    assert not enterprise_options.background_deletion


def test_create_library_enterprise_options_set(spark, tmp_path):
    """Port of test_create_library_enterprise_options_set:130-143."""
    lib = Arctic(str(tmp_path), spark).create_library(
        "lib", enterprise_library_options=EnterpriseLibraryOptions(
            replication=True, background_deletion=True))
    enterprise_options = lib.enterprise_options()
    assert enterprise_options.replication
    assert enterprise_options.background_deletion


def test_modify_options_affect_persistent_lib_config(spark, tmp_path):
    """Port of test_modify_options_affect_persistent_lib_config:191-203
    plus the rows/dedup variants (206-249): modified options persist and
    a fresh client sees them."""
    ac = Arctic(str(tmp_path), spark)
    lib = ac.create_library("lib")
    ac.modify_library_option(lib, ModifiableLibraryOption.DEDUP, True)
    ac.modify_library_option(lib, ModifiableLibraryOption.ROWS_PER_SEGMENT,
                             100)
    new_client = Arctic(str(tmp_path), spark)
    new_lib = new_client["lib"]
    assert new_lib.dedup
    assert new_lib.rows_per_file == 100
    ac.modify_library_option(new_lib,
                             ModifiableLibraryOption.ROWS_PER_SEGMENT, 200)
    assert Arctic(str(tmp_path), spark)["lib"].rows_per_file == 200


def test_separation_between_libraries(spark, tmp_path):
    """Port of test_separation_between_libraries:407-430: same symbol in
    two libraries stays independent."""
    ac = Arctic(str(tmp_path), spark)
    lib1 = ac.create_library("lib1")
    lib2 = ac.create_library("lib2")
    df1 = pd.DataFrame({"a": np.arange(5)})
    df2 = pd.DataFrame({"a": np.arange(10, 15)})
    lib1.write("sym", df1)
    lib2.write("sym", df2)
    pd.testing.assert_frame_equal(
        df1, ac["lib1"].read("sym", output_format="pandas"))
    pd.testing.assert_frame_equal(
        df2, ac["lib2"].read("sym", output_format="pandas"))
    ac["lib1"].delete("sym")
    assert not ac["lib1"].has_symbol("sym")
    assert ac["lib2"].has_symbol("sym")


def test_uri_data_root_is_refused(spark, tmp_path, monkeypatch):
    """Data files live on a local or mounted path: a URI data_root raises
    before anything is created (it used to make a local directory named
    after the scheme and fail at the first write)."""
    from arcticdb_spark.exceptions import ArcticException
    meta = tmp_path / "meta"
    ac = Arctic(str(meta), spark, data_root="s3a://b/p")
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ArcticException, match="data_root"):
        ac.create_library("lib")
    assert os.listdir(meta) == []
    assert sorted(os.listdir(tmp_path)) == ["meta"]
