"""Source layer: table-ref resolution + the Iceberg gate (SURVEY.md §2.1 S1/S2)."""

import os

import pytest

from shaclapi_spark import sources


def test_load_tables_from_dir(spark, fixture_dir):
    d = os.path.dirname(fixture_dir["clips"])
    tables = sources.load_tables(
        spark, d, names=("clips", "transcripts", "ref_histograms")
    )
    assert set(tables) == {"clips", "transcripts", "ref_histograms"}
    assert tables["clips"].count() > 0


def test_load_tables_name_filter(spark, fixture_dir):
    d = os.path.dirname(fixture_dir["clips"])
    tables = sources.load_tables(spark, d, names=("clips",))
    assert set(tables) == {"clips"}


def test_read_table_refs(spark, fixture_dir):
    p = fixture_dir["clips"]
    df_plain = sources.read_table(spark, p)
    df_scheme = sources.read_table(spark, f"parquet:{p}")
    assert df_plain.schema == df_scheme.schema
    # DataFrame passthrough
    assert sources.read_table(spark, df_plain) is df_plain


def test_read_table_catalog_view(spark, fixture_dir):
    spark.read.parquet(fixture_dir["clips"]).createOrReplaceTempView("src_clips_v")
    df = sources.read_table(spark, "table:src_clips_v")
    assert df.count() == spark.table("src_clips_v").count()


def test_iceberg_gated(spark):
    # this sandbox ships no iceberg-spark-runtime jar: the gate must say so
    assert not sources.iceberg_available(spark)
    with pytest.raises(RuntimeError, match="[Ii]ceberg"):
        sources.read_table(spark, "iceberg:cat.db.clips")


def test_bad_refs(spark):
    with pytest.raises(ValueError, match="scheme"):
        sources.read_table(spark, "bogus:whatever")
    with pytest.raises(FileNotFoundError):
        sources.load_tables(spark, "/nonexistent/dir")
    with pytest.raises(TypeError):
        sources.read_table(spark, 42)
