"""IO4 existence probes: catalog tables, path tables (absent vs broken must
be distinguishable), and the portable JDBC information_schema query."""

from __future__ import annotations

import os

import pytest

from alphavantage_etl_spark.sources.catalog import (
    information_schema_probe,
    path_exists,
    read_path_if_exists,
    table_exists,
)

from .conftest import SF_SMALL


def test_catalog_table_exists(spark):
    assert not table_exists(spark, "no_such_table_anywhere")
    spark.range(3).createOrReplaceTempView("probe_view")
    try:
        assert table_exists(spark, "probe_view")
    finally:
        spark.catalog.dropTempView("probe_view")
    assert not table_exists(spark, "probe_view")


def test_path_probe_absent_vs_present(spark, tmp_path):
    missing = str(tmp_path / "never_written")
    assert read_path_if_exists(spark, missing) is None
    assert not path_exists(spark, missing)

    present = str(tmp_path / "written")
    spark.range(5).write.parquet(present)
    df = read_path_if_exists(spark, present)
    assert df is not None and df.count() == 5
    assert path_exists(spark, present)


def test_path_probe_with_known_schema(spark, tmp_path):
    # a given schema skips inference but not the existence probe
    schema = spark.range(1).schema
    missing = str(tmp_path / "never_written")
    assert read_path_if_exists(spark, missing, schema=schema) is None

    present = str(tmp_path / "written")
    spark.range(5).write.parquet(present)
    df = read_path_if_exists(spark, present, schema=schema)
    assert df is not None and df.dtypes == [("id", "bigint")]
    assert sorted(df.collect()) == sorted(read_path_if_exists(spark, present).collect())


@pytest.mark.parametrize("known_schema", [False, True], ids=["inferred", "given"])
def test_path_probe_propagates_corruption(spark, tmp_path, known_schema):
    # A sink that EXISTS but cannot be read must raise, never report
    # "first run" — that would silently re-append the whole load. With a
    # given schema the raise moves from the probe to the first action.
    broken = tmp_path / "broken"
    broken.mkdir()
    (broken / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    schema = spark.range(1).schema if known_schema else None
    with pytest.raises(Exception) as exc_info:
        df = read_path_if_exists(spark, str(broken), schema=schema)
        if df is not None:
            df.count()
    assert exc_info.value is not None


def test_information_schema_probe_is_portable_sql():
    q = information_schema_probe("src_px_usd")
    assert q == (
        "SELECT 1 AS one FROM information_schema.tables "
        "WHERE table_schema = 'public' AND table_name = 'src_px_usd'"
    )
    assert "myschema" in information_schema_probe("t", schema="myschema")
    with pytest.raises(ValueError):
        information_schema_probe("bad'name")


def test_fixture_dir_counts_as_existing(spark):
    assert path_exists(spark, os.path.join(SF_SMALL, "orders.parquet"))
