import pytest

from perfbench.spark_layers import build_session, release_cache, stop_session


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = build_session(str(tmp_path_factory.mktemp("spark")), 1, 1024)
    yield s
    stop_session(s)


def test_release_cache_makes_the_next_pass_compute(spark):
    def counts():
        return spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()

    def reads_cache(df) -> bool:
        return "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString()

    assert counts().persist().count() == 7
    spark.range(10).cache().count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 2
    # the same plan built again is answered from the cache
    assert reads_cache(counts())

    release_cache(spark)

    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    again = counts()
    assert not reads_cache(again)
    assert again.count() == 7
