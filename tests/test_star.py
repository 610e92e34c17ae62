"""Star-schema invariants (SURVEY §5 / FIXTURES §2): FK integrity,
measure conservation, and physical-plan quality (pushdown/pruning)."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_sf_crime_spark.operators.star import star_tables
from map_reduce_sf_crime_spark.plans.crimes_view import category_incidents, incidents

from .conftest import SF_SMOKE


def test_scan_pushdown_and_pruning(spark):
    """The quarter filter must reach the parquet scan and the scan must
    read only the two load-bearing columns (SURVEY §4: ColumnPruning +
    PushDownPredicate are free IF the plan stays declarative — this
    guards against a refactor that breaks that)."""
    plan = category_incidents(spark, SF_SMOKE)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters: [" in plan
    assert "o_orderdate" in plan.split("PushedFilters:")[1].splitlines()[0]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderpriority" in read_schema and "o_orderdate" in read_schema
    assert "o_custkey" not in read_schema  # pruned: not referenced


def test_star_invariants(spark):
    inc = incidents(spark, SF_SMOKE).cache()
    t = star_tables(inc)
    n_incidents = inc.count()

    # measure conservation: sum(fact.crimes) == clean incident count
    assert t["fact"].agg(F.sum("crimes")).first()[0] == n_incidents

    # every FK resolves (anti joins empty)
    for fk, dim in [
        ("category_id", t["category"]),
        ("district_id", t["district"]),
        ("time_id", t["timeperiod"]),
    ]:
        dangling = t["fact"].join(
            dim.select(F.col(dim.columns[0])), fk, "left_anti"
        )
        assert dangling.count() == 0, fk

    # surrogate ids are 1-based dense ranks in sorted order
    cats = t["category"].orderBy("category_id").collect()
    assert [c.category_id for c in cats] == list(range(1, len(cats) + 1))
    assert [c.name for c in cats] == sorted(c.name for c in cats)
    inc.unpersist()


def _formatted(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_star_join_broadcasts_all_dims(spark):
    """J4 must stay a broadcast star join — a regression to shuffle
    joins on the tiny dims would shuffle the fact three times."""
    from map_reduce_sf_crime_spark.plans.olap_queries import _star_join

    plan = _formatted(_star_join(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3


def test_range_predicates_push_to_scan(spark):
    """Q6-shape range predicates (ship date, discount, quantity) all
    reach the parquet scan as PushedFilters."""
    from map_reduce_sf_crime_spark.plans.registry import REGISTRY

    plan = _formatted(REGISTRY["forecast_revenue"].spark(spark, SF_SMOKE))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col


def test_sketch_aggregates_error_bounds(spark):
    """HLL++ distinct and approx-median bound checks (computed inside
    the query against exact Spark aggregates) must all pass, and the
    exact per-type counts must match a direct aggregation."""
    from map_reduce_sf_crime_spark.plans.registry import REGISTRY
    from map_reduce_sf_crime_spark.sources.parquet import load_events

    sketch = {r.event_type: r for r in
              REGISTRY["sketch_event_stats"].spark(spark, SF_SMOKE).collect()}
    ev = load_events(spark, SF_SMOKE)
    exact = {r.event_type: r.n for r in ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(sketch) == set(exact)
    for et, row in sketch.items():
        assert row.users_ok == 1, et
        assert row.median_ok == 1, et
        assert row.n == exact[et], et


def test_timeperiod_upsert_stable_surrogate_keys(spark, tmp_path):
    """The incremental timeperiod keeps existing surrogate ids stable
    across loads — including a backfill of EARLIER dates, where the
    batch rebuild would renumber every row and orphan fact FKs."""
    import datetime

    from map_reduce_sf_crime_spark.operators.star import (
        timeperiod,
        timeperiod_upsert,
    )

    path = str(tmp_path / "timeperiod")
    feb = [datetime.date(2013, 2, d) for d in (1, 5, 9)]
    jan = [datetime.date(2013, 1, d) for d in (3, 7)]
    mar = [datetime.date(2013, 3, 2)]

    def df_of(dates):
        return spark.createDataFrame([(d,) for d in dates], "d date")

    first = timeperiod_upsert(spark, path, df_of(feb))
    ids1 = {r.d: r.time_id for r in first.collect()}
    assert sorted(ids1.values()) == [1, 2, 3]

    # second load: overlap + backfill (jan) + append (mar)
    second = timeperiod_upsert(spark, path, df_of(feb + jan + mar))
    ids2 = {r.d: r.time_id for r in second.collect()}
    # existing keys untouched
    assert all(ids2[d] == ids1[d] for d in feb)
    # new dates (even earlier ones) get fresh ids above the max,
    # ranked by date within the batch
    assert [ids2[d] for d in sorted(jan + mar)] == [4, 5, 6]
    # no duplicate dates, derived calendar columns present
    assert second.count() == 6
    assert {r.d: r.month for r in second.collect()}[jan[0]] == 0  # 0-based

    # idempotent: re-sending only seen dates changes nothing
    third = timeperiod_upsert(spark, path, df_of(jan))
    assert {r.d: r.time_id for r in third.collect()} == ids2

    # and the contrast that motivates it: the batch rebuild renumbers
    rebuilt = {r.d: r.time_id for r in timeperiod(df_of(feb + jan + mar), "d").collect()}
    assert rebuilt != ids2
    assert rebuilt[jan[0]] == 1  # backfilled date steals id 1


def _star_multiset(df):
    from collections import Counter

    cols = ["crimes", "category", "district", "year", "month", "week", "day"]
    return Counter(tuple(r) for r in df.select(*cols).collect())


def _null_key_copy(tmp_path):
    """A copy of the smoke fixture's orders, customer and nation where
    every 9th ``o_orderpriority`` and one nation's ``n_name`` are NULL."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def null_where(table, col, mask):
        i = table.schema.get_field_index(col)
        nulls = pa.scalar(None, table.schema.field(i).type)
        return table.set_column(i, col, pc.if_else(pa.array(mask), nulls, table[col]))

    orders = pq.read_table(f"{SF_SMOKE}/orders.parquet")
    orders = null_where(
        orders, "o_orderpriority", [i % 9 == 0 for i in range(orders.num_rows)]
    )
    pq.write_table(orders, tmp_path / "orders.parquet")
    nation = pq.read_table(f"{SF_SMOKE}/nation.parquet")
    nation = null_where(nation, "n_name", [i == 3 for i in range(nation.num_rows)])
    pq.write_table(nation, tmp_path / "nation.parquet")
    shutil.copy(f"{SF_SMOKE}/customer.parquet", tmp_path / "customer.parquet")
    return str(tmp_path)


def test_star_rows_equal_star_join(spark, tmp_path):
    """star_rows (the daily aggregate with NULL keys dropped and the
    calendar levels attached) holds exactly the rows of the J4 star
    join over star_tables, on the fixture and on a copy whose category
    and district names are partly NULL."""
    from map_reduce_sf_crime_spark.operators.star import star_rows
    from map_reduce_sf_crime_spark.plans.olap_queries import _star_join

    hostile = _null_key_copy(tmp_path)
    inc = incidents(spark, hostile)
    assert inc.filter(F.col("category").isNull()).count() > 0
    assert inc.filter(F.col("district").isNull()).count() > 0
    for sf_dir in (SF_SMOKE, hostile):
        got = _star_multiset(star_rows(incidents(spark, sf_dir)))
        assert got and got == _star_multiset(_star_join(spark, sf_dir)), sf_dir


def test_olap_rollups_matches_star_join_twin_on_null_keys(spark, tmp_path):
    """olap_rollups reads star_rows; its DuckDB twin keeps Mondrian's
    star join. With NULL category and district names in the input the
    two still agree, compared through the gate's canonical form."""
    import duckdb

    from map_reduce_sf_crime_spark.plans.registry import REGISTRY
    from tools.check_oracle import canon

    hostile = _null_key_copy(tmp_path)
    spec = REGISTRY["olap_rollups"]
    got = spec.spark(spark, hostile).toPandas()
    con = duckdb.connect()
    for t in ("orders", "customer", "nation"):
        con.sql(f"create view {t} as select * from '{hostile}/{t}.parquet'")
    assert canon(got) == canon(con.sql(spec.oracle).df())
