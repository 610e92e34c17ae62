"""Map the crime-domain roles onto the driver testdata (FIXTURES.md §3).

The reference's raw-incident table (SURVEY §1.1) has three load-bearing
roles: a low-cardinality category string, a ~10-distinct district
string, and an incident date. On the TPC-H-ish testdata those map to:

    Category   ← orders.o_orderpriority     (5 distinct, skewed-ish)
    PdDistrict ← nation.n_name via customer (25 distinct)
    Date       ← orders.o_orderdate, restricted to Q1-1995 — the
                 analog of the reference's single-quarter "Q1 2013"
                 window (plotDistrict.r:12) so week buckets land in
                 the fixed 0..15 domain (SanFranciscoCrime.java:170-173).

Two frames are exposed: ``category_incidents`` (no join — the flagship
A1-by-category path scans one table) and ``incidents`` (adds the
district via a join: orders ⋈ customer is a real shuffle join at scale,
customer ⋈ nation is a broadcast). Every frame has a DuckDB SQL twin
used verbatim inside the oracle queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import load_table

#: Quarter window — analog of the reference's Q1-2013 dataset.
Q_START, Q_END = "1995-01-01", "1995-04-01"

_QFILTER_SQL = (
    f"o_orderdate >= timestamp '{Q_START} 00:00:00' "
    f"and o_orderdate < timestamp '{Q_END} 00:00:00'"
)

#: SQL twin of :func:`category_incidents` (DuckDB subquery).
CATEGORY_INCIDENTS_SQL = f"""(
  select o_orderpriority as category, cast(o_orderdate as date) as d
  from orders
  where {_QFILTER_SQL}
)"""

#: SQL twin of :func:`incidents` (DuckDB subquery).
INCIDENTS_SQL = f"""(
  select o_orderpriority as category, n_name as district,
         cast(o_orderdate as date) as d
  from orders
  join customer on o_custkey = c_custkey
  join nation on c_nationkey = n_nationkey
  where {_QFILTER_SQL}
)"""


def _quarter(df: DataFrame) -> DataFrame:
    return df.filter(
        (F.col("o_orderdate") >= F.lit(Q_START)) & (F.col("o_orderdate") < F.lit(Q_END))
    )


def category_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(category, d) — the no-join flagship input. The quarter filter
    and the 2-column projection both push down to the parquet scan."""
    orders = load_table(spark, sf_dir, "orders")
    return _quarter(orders).select(
        F.col("o_orderpriority").alias("category"),
        F.to_date("o_orderdate").alias("d"),
    )


def _joined_orders(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Quarter orders ⋈ customer ⋈ nation with join type ``how``: the
    shuffle join on the customer key and the broadcast nation join."""
    orders = _quarter(load_table(spark, sf_dir, "orders"))
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return orders.join(customer, orders.o_custkey == customer.c_custkey, how).join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, how
    )


def incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(category, district, d) — adds district via orders ⋈ customer
    (shuffle hash/sort-merge on the key Catalyst picks; AQE may convert)
    and customer ⋈ nation (explicit broadcast: 25-row dim — J1's
    legitimate form, SanFranciscoCrimePrepOlap.java:69-74 did this with
    driver statics)."""
    return _joined_orders(spark, sf_dir, "inner").select(
        F.col("o_orderpriority").alias("category"),
        F.col("n_name").alias("district"),
        F.to_date("o_orderdate").alias("d"),
    )
