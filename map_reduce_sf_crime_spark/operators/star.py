"""Star-schema assembly and OLAP query layer.

Reference: ``LoadStarDB`` (LoadStarDB.java:231-295) truncates and
reloads a MySQL star schema — ``category``/``district`` dims with
sorted-order ids, ``timeperiod`` built insert-on-miss per distinct
date (LoadStarDB.java:149-160), ``fact(crimes, district_id,
category_id, time_id)`` from the daily triplets — then Mondrian
answers MDX over it (sfcrime.xml:4-28) via star joins (J4) and
``sum(crimes)`` rollups (A5).

Spark-first rewrite: each table is a DataFrame built declaratively;
fact FKs come from **name-equality broadcast joins** against the dims
(not positional +1 arithmetic — SURVEY §2.3 J5 off-by-one drift is
resolved by construction). :func:`star_tables` builds the normalized
star for the J4 surface (``star_fact``, the dims, the star join).

Every dim is the distinct values of the daily aggregate the fact is
built from, so joining the dims back onto the fact is an identity
join: it drops only rows with a NULL key and adds the calendar levels
of ``d``. :func:`star_rows` therefore reads the denormalized star
straight off the daily aggregate, with no join; the OLAP surface
(``rollup``/grouping sets and the MDX cells) aggregates that.

Timeperiod keeps the fuller MySQL shape incl. ``week``
(starschema.sql:1-7; the Postgres DDL drops it — SURVEY §1.5 drift
resolved toward MySQL) with **0-based month** exactly as
``LoadStarDB.addTimePeriod`` stores ``Calendar.MONTH``
(LoadStarDB.java:134-141).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.calendar import month0_col, month0_sql, week_of_month_col, week_of_month_sql
from ..functions.caching import plan_cache
from .dims import dictionary_encode, dictionary_encode_sql


def _calendar(d: Column) -> list[Column]:
    """The timeperiod levels of date ``d``: ``year``, 0-based
    ``month``, ``week`` of month and ``day`` of month."""
    return [
        F.year(d).alias("year"),
        month0_col(d).alias("month"),
        week_of_month_col(d).alias("week"),
        F.dayofmonth(d).alias("day"),
    ]


def timeperiod(dates: DataFrame, date_col: str = "d") -> DataFrame:
    """``timeperiod(time_id, year, month, week, day)`` — one row per
    distinct date, id = 1-based rank in date order, month 0-based."""
    d = F.col(date_col)
    return (
        dates.select(d.alias("d"))
        .distinct()
        .select(
            F.row_number().over(Window.orderBy("d")).alias("time_id"),
            F.col("d"),
            *_calendar(F.col("d")),
        )
    )


def timeperiod_sql(table_expr: str, date_col: str = "d") -> str:
    return f"""
    select row_number() over (order by d) as time_id, d,
           year(d) as year, {month0_sql("d")} as month,
           {week_of_month_sql("d")} as week, dayofmonth(d) as day
    from (select distinct {date_col} as d from {table_expr} t)
    """


def _daily(inc: DataFrame) -> DataFrame:
    """``daily(d, category, district, crimes)`` — the daily
    cat×district triplet count (A2) every star table derives from."""
    return inc.groupBy("d", "category", "district").agg(
        F.count(F.lit(1)).alias("crimes")
    )


def star_tables(inc: DataFrame) -> dict[str, DataFrame]:
    """Build all four star tables from the incident frame
    ``(category, district, d)``.

    The fact is the daily cat×district triplet aggregation (A2) with
    FKs resolved by broadcast joins against the three dims — dims are
    tiny by construction, so no shuffle is added beyond the one
    groupBy; at 100 TB the same plan holds (dims stay broadcast-able:
    #categories × #districts × #days grows slowly).

    The raw incident frame is scanned ONCE: the daily aggregate is
    cached and every dim derives its distinct names/dates from it
    (identical distinct sets — daily groups by all three dim columns),
    instead of four independent re-scans of the fact-sized input. At
    100 TB this is the difference between one pass and four.
    """
    daily = _daily(inc).transform(plan_cache)
    category = dictionary_encode(daily, "category", "category_id")
    district = dictionary_encode(daily, "district", "district_id")
    tp = timeperiod(daily, "d")
    fact = (
        daily.join(F.broadcast(category), daily.category == category.name)
        .join(F.broadcast(district), daily.district == district.name)
        .join(F.broadcast(tp.select("time_id", "d")), "d")
        .select("crimes", "district_id", "category_id", "time_id")
        .transform(plan_cache)  # shared by every OLAP query over the star (J4/A5)
    )
    return {"category": category, "district": district, "timeperiod": tp, "fact": fact}


def star_rows(inc: DataFrame) -> DataFrame:
    """The denormalized star ``(crimes, category, district, d, year,
    month, week, day)`` — the rows of :func:`star_tables`' fact joined
    to its three dims, read straight off the daily aggregate.

    The dims are the distinct values of that same aggregate, so every
    daily row with non-NULL keys matches exactly one row of each dim
    and the name-equality joins drop only the NULL-key rows; those are
    filtered here, and the calendar levels come from ``d`` itself."""
    return _daily(inc).filter(
        F.col("category").isNotNull()
        & F.col("district").isNotNull()
        & F.col("d").isNotNull()
    ).select("crimes", "category", "district", "d", *_calendar(F.col("d")))


def star_tables_sql(incidents_sql: str) -> dict[str, str]:
    """DuckDB CTE bodies mirroring :func:`star_tables`."""
    cat = dictionary_encode_sql(incidents_sql, "category", "category_id")
    dist = dictionary_encode_sql(incidents_sql, "district", "district_id")
    tp = timeperiod_sql(incidents_sql, "d")
    daily = (
        f"select d, category, district, count(*) as crimes\n"
        f"from {incidents_sql} t group by d, category, district"
    )
    fact = f"""
    select daily.crimes, district.district_id, category.category_id, tp.time_id
    from ({daily}) daily
    join ({cat}) category on daily.category = category.name
    join ({dist}) district on daily.district = district.name
    join ({tp}) tp on daily.d = tp.d
    """
    return {"category": cat, "district": dist, "timeperiod": tp, "fact": fact}


def timeperiod_upsert(
    spark, path: str, dates: DataFrame, date_col: str = "d"
) -> DataFrame:
    """Insert-on-miss slowly-growing ``timeperiod`` — the INCREMENTAL
    form of ``LoadStarDB.addTimePeriod`` (LoadStarDB.java:149-160),
    with the property the reference's auto-increment column actually
    guarantees and a full rebuild does not: **surrogate keys are
    stable across loads**. A batch containing already-seen dates
    changes nothing; unseen dates (including BACKFILLED earlier ones)
    get fresh ids strictly above the current max, ranked by date
    within the batch — whereas :func:`timeperiod` (the batch rebuild)
    ranks globally by date and would renumber every existing row on
    backfill, silently orphaning facts that reference the old ids.

    Scale shape: the dim is bounded by distinct-date cardinality
    (days), so the anti-join is broadcast-size, the max-id lookup is
    a one-row aggregate, and the per-batch rank window is over the
    handful of new dates only. New rows APPEND — existing files are
    never rewritten. Returns the updated dimension."""
    from pyspark.errors import AnalysisException

    d = F.col(date_col)
    incoming = dates.select(d.alias("d")).distinct()
    try:
        existing = spark.read.parquet(path)
    except AnalysisException as e:
        # ONLY a missing path means "first load" — any other read
        # failure (permissions, corrupt footer, transient FS error)
        # must propagate, or the overwrite below would destroy an
        # existing dimension and renumber every surrogate key.
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        timeperiod(incoming, "d").write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    fresh_dates = incoming.join(existing.select("d"), "d", "left_anti")
    max_id = existing.agg(F.max("time_id")).collect()[0][0] or 0
    # one derivation of the calendar columns (timeperiod() owns the
    # month-0 / week-of-month rules); only the id offset differs
    fresh = timeperiod(fresh_dates, "d").withColumn(
        "time_id", F.col("time_id") + F.lit(max_id)
    )
    fresh.write.mode("append").parquet(path)
    return spark.read.parquet(path)
