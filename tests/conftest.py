import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("shaclapi_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_dir():
    """The 2 000-clip fixture (table and marker paths) that the contract and
    the imagery tests also read."""
    from shaclapi_spark import fixture_io

    return fixture_io.ensure_fixture_pandas(2000)


@pytest.fixture(scope="session")
def fixture_tables(spark, fixture_dir):
    from shaclapi_spark import fixture_io

    return {name: spark.read.parquet(fixture_dir[name]) for name in fixture_io.TABLES}
