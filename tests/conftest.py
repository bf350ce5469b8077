import sys
from pathlib import Path

import pytest

# the checkout this conftest belongs to, so a copy of the repo tests itself
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from arcticdb_spark import get_spark
    s = get_spark("arcticdb_spark_tests")
    yield s


@pytest.fixture(scope="session")
def lineitem(spark):
    from arcticdb_spark.sources import load_table
    return load_table(spark, SF, "lineitem").cache()


@pytest.fixture(scope="session")
def events(spark):
    from arcticdb_spark.sources import load_table
    return load_table(spark, SF, "events").cache()


@pytest.fixture(scope="session")
def documents(spark):
    from arcticdb_spark.sources import load_table
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="session")
def events_pdf(events):
    return events.toPandas()


@pytest.fixture(scope="session")
def lineitem_pdf(lineitem):
    return lineitem.toPandas()


@pytest.fixture()
def tmp_lib(spark, tmp_path):
    from arcticdb_spark.catalog import Arctic
    return Arctic(str(tmp_path), spark).create_library("testlib")
