"""Property checks from SURVEY §5: the awk-oracle invariant —
sum of the 16 pivot columns per key == plain group-by count."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_sf_crime_spark.plans.registry import REGISTRY

from .conftest import SF_SMOKE


def test_pivot_row_sums_equal_totals(spark):
    weekly = (
        REGISTRY["weekly_report"]
        .spark(spark, SF_SMOKE)
        .filter(F.col("dim") == "category")
    )
    totals = (
        REGISTRY["awk_totals"]
        .spark(spark, SF_SMOKE)
        .filter(F.col("rule") == "category_totals")
        .select(F.col("key").alias("member"), F.col("n").alias("total"))
    )
    wsum = weekly.select(
        "member",
        sum([F.col(f"w{i}") for i in range(16)], F.lit(0)).alias("rowsum"),
    )
    joined = wsum.join(totals, "member")
    bad = joined.filter(F.col("rowsum") != F.col("total")).collect()
    assert bad == []
    assert joined.count() == 5  # o_orderpriority cardinality


def test_daily_triplets_sum_to_incident_count(spark):
    daily = REGISTRY["daily_cat_dist"].spark(spark, SF_SMOKE)
    total = daily.agg(F.sum("crimes")).first()[0]
    from map_reduce_sf_crime_spark.plans.crimes_view import incidents

    assert total == incidents(spark, SF_SMOKE).count()


def test_weekly_schema_is_dense_17_columns(spark):
    weekly = REGISTRY["weekly_report"].spark(spark, SF_SMOKE)
    assert weekly.columns == ["dim", "member"] + [f"w{i}" for i in range(16)]


def test_weekly_report_counts_orphan_key_orders(spark, tmp_path):
    """Orders whose ``o_custkey`` or ``c_nationkey`` has no match (or is
    NULL) still count in their category row — the oracle counts
    categories from bare orders — and drop only from the district rows.
    Compared with the DuckDB twin through the gate's canonical form."""
    import shutil

    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tools.check_oracle import canon

    def every(n: int, k: int, rows: int):
        return pa.array([i % n == k for i in range(rows)])

    orders = pq.read_table(f"{SF_SMOKE}/orders.parquet")
    rows = orders.num_rows
    custkey = pc.if_else(
        every(7, 0, rows), pa.scalar(10_000_000, pa.int64()), orders["o_custkey"]
    )
    custkey = pc.if_else(every(11, 5, rows), pa.scalar(None, pa.int64()), custkey)
    orders = orders.set_column(
        orders.schema.get_field_index("o_custkey"), "o_custkey", custkey
    )
    pq.write_table(orders, tmp_path / "orders.parquet")
    customer = pq.read_table(f"{SF_SMOKE}/customer.parquet")
    nationkey = pc.if_else(
        every(10, 3, customer.num_rows),
        pa.scalar(999, pa.int32()),
        customer["c_nationkey"],
    )
    customer = customer.set_column(
        customer.schema.get_field_index("c_nationkey"), "c_nationkey", nationkey
    )
    pq.write_table(customer, tmp_path / "customer.parquet")
    shutil.copy(f"{SF_SMOKE}/nation.parquet", tmp_path / "nation.parquet")

    spec = REGISTRY["weekly_report"]
    got = spec.spark(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    for t in ("orders", "customer", "nation"):
        con.sql(f"create view {t} as select * from '{tmp_path}/{t}.parquet'")
    want = con.sql(spec.oracle).df()

    w = [f"w{i}" for i in range(16)]
    per_dim = want.assign(n=want[w].sum(axis=1)).groupby("dim")["n"].sum()
    assert per_dim["category"] > per_dim["district"]  # orphans in the quarter
    assert canon(got) == canon(want)
