"""sources/parquet.py infers each table's schema once per process: a
re-read starts no Spark job, a rewritten table is re-inferred, and a
missing table still fails as Spark reports it."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import TimestampType

from map_reduce_sf_crime_spark.sources.parquet import load_events, load_table, read_parquet

from .conftest import SF_SMOKE


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_starts_no_job(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/nation.parquet", tmp_path / "nation.parquet")
    first, _ = _jobs(spark, "schema_first", lambda: load_table(spark, str(tmp_path), "nation"))
    second, jobs = _jobs(
        spark, "schema_second", lambda: load_table(spark, str(tmp_path), "nation")
    )
    assert jobs == 0
    assert second.schema == first.schema
    assert second.count() == first.count() == 25


def test_rewritten_table_is_reinferred(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    nation = pq.read_table(f"{SF_SMOKE}/nation.parquet")
    pq.write_table(nation, path)
    assert "n_extra" not in load_table(spark, str(tmp_path), "nation").columns
    extra = pa.array([f"x{i}" for i in range(nation.num_rows)])
    pq.write_table(nation.append_column("n_extra", extra), path)
    got = load_table(spark, str(tmp_path), "nation")
    assert "n_extra" in got.columns
    assert sorted(r.n_extra for r in got.select("n_extra").collect()) == sorted(
        extra.to_pylist()
    )


def test_rewritten_directory_is_reinferred(spark, tmp_path):
    """A directory table keys on its entries: overwriting it with new
    part files (another column) re-infers the schema."""
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(4).selectExpr("id", "id * 2 as twice").write.mode("overwrite").parquet(path)
    got = read_parquet(spark, path)
    assert got.columns == ["id", "twice"]
    assert sorted(r.twice for r in got.collect()) == [0, 2, 4, 6]


def test_missing_table_raises_analysis_exception(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "orders")


def test_load_events_ts_is_timestamp(spark):
    for _ in range(2):  # inferred, then from the memo
        events = load_events(spark, SF_SMOKE)
        assert isinstance(events.schema["ts"].dataType, TimestampType)
        assert events.filter("ts is null").count() == 0
