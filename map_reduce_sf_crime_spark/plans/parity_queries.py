"""Reference-parity queries: the two MR jobs and the awk oracle.

Covers SURVEY §2 rows A1 (weekly pivot), A2 (daily triplets),
A4 (category totals / the awk cross-check), P1 (projection — implicit:
every plan selects only load-bearing columns and Catalyst prunes the
scan), P4 (non-zero filter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.calendar import N_WEEK_BUCKETS, week_bucket_col, week_bucket_sql
from ..operators.weekly import weekly_summary_sql
from .crimes_view import (
    CATEGORY_INCIDENTS_SQL,
    INCIDENTS_SQL,
    _joined_orders,
    category_incidents,
    incidents,
)
from .registry import register


_W_COLS = [f"w{b}" for b in range(N_WEEK_BUCKETS)]


@register(
    "weekly_report",
    f"""
    select 'category' as dim, category as member, {", ".join(_W_COLS)}
    from ({weekly_summary_sql(CATEGORY_INCIDENTS_SQL + " t", "category", "d")})
    union all
    select 'district' as dim, district as member, {", ".join(_W_COLS)}
    from ({weekly_summary_sql(INCIDENTS_SQL + " t", "district", "d")})
    """,
    survey_ids=("A1", "P1", "F3", "F4", "S1", "J1"),
)
def weekly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: SanFranciscoCrime.java:228-229 ``bycategory`` +
    ``bydistrict`` weekly reports, one row-set tagged by ``dim``
    (single registry entry so both reports sit under the driver's
    correctness gate).

    r12 single-pass form (guide §2.3 "aggregate before you shuffle" +
    §2.4 shared exchange): one scan of orders, each incident exploded
    into its (dim, member) rows, ONE pivot-count pass — instead of a
    bare scan for the category report plus a joined scan for the
    district report, with two partial-agg exchange pairs.

    The scan is LEFT-joined to customer and nation, so an order whose
    ``o_custkey`` or ``c_nationkey`` has no match still counts in its
    category row (the category report is over bare orders, as in the
    oracle); its district row is emitted only when the nation side
    matched, decided by the non-null join key — not by ``n_name``,
    which a matched nation may legitimately hold as NULL. The inner
    :func:`incidents` frame would silently drop orphan-key orders
    from the category counts."""
    buckets = list(range(N_WEEK_BUCKETS))
    category = F.struct(
        F.lit("category").alias("dim"), F.col("o_orderpriority").alias("member")
    )
    district = F.struct(
        F.lit("district").alias("dim"), F.col("n_name").alias("member")
    )
    exploded = _joined_orders(spark, sf_dir, "left").select(
        F.explode(
            F.when(
                F.col("n_nationkey").isNotNull(), F.array(category, district)
            ).otherwise(F.array(category))
        ).alias("_dm"),
        week_bucket_col(F.to_date("o_orderdate")).alias("bucket"),
    ).select("_dm.dim", "_dm.member", "bucket")
    out = (
        exploded.groupBy("dim", "member")
        .pivot("bucket", buckets)
        .count()
        .na.fill(0)
    )
    return out.select(
        "dim",
        "member",
        *[F.col(str(b)).alias(f"w{b}") for b in buckets],
    )


@register(
    "daily_cat_dist",
    f"""
    select strftime(d, '%Y/%m/%d') as day, category, district,
           count(*) as crimes
    from {INCIDENTS_SQL} t
    group by d, category, district
    """,
    survey_ids=("A2", "P4", "F2"),
)
def daily_cat_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily heat-map triplets (SanFranciscoCrimePrepOlap.java:155-206).

    The reference builds a dense category×district int matrix per date
    and emits non-zero cells; ``groupBy().count()`` produces exactly the
    non-zero cells with no materialized zeros (count>0 is vacuously
    true post-aggregation — P4 subsumed). The date is rendered
    ``yyyy/MM/dd`` like the MR output key (MapReduceJobBase.java:65).
    """
    return (
        incidents(spark, sf_dir)
        .groupBy(
            F.date_format("d", "yyyy/MM/dd").alias("day"),
            "category",
            "district",
        )
        .agg(F.count(F.lit(1)).alias("crimes"))
        .filter(F.col("crimes") > 0)
    )


_DOW = ["Sun", "Mon", "Tue", "Wed", "Thu", "Fri", "Sat"]


@register(
    "calendar_series",
    f"""
    with cats as (select distinct category from {CATEGORY_INCIDENTS_SQL} t),
    dows as (
      select * from (values
        {", ".join(f"({i}, '{name.lower()}')" for i, name in enumerate(_DOW))}
      ) d(i, name)
    ),
    dow_counts as (
      select category, dayofweek(d) as i, count(*) as n
      from {CATEGORY_INCIDENTS_SQL} t group by 1, 2
    ),
    bounds as (
      select min(d) as lo, max(d) as hi from {CATEGORY_INCIDENTS_SQL} t
    ),
    days as (
      select unnest(generate_series(lo, hi, interval 1 day))::date as d
      from bounds
    ),
    day_counts as (
      select d, category, count(*) as n from {CATEGORY_INCIDENTS_SQL} t
      group by d, category
    )
    select 'dow' as series, dows.name as slot, cats.category,
           cast(coalesce(dow_counts.n, 0) as bigint) as n
    from cats cross join dows
    left join dow_counts
      on dow_counts.category = cats.category and dow_counts.i = dows.i
    union all
    select 'daily' as series, strftime(days.d, '%Y-%m-%d') as slot,
           cats.category, cast(coalesce(day_counts.n, 0) as bigint) as n
    from days cross join cats
    left join day_counts
      on day_counts.d = days.d and day_counts.category = cats.category
    """,
    survey_ids=("A1",),
)
def calendar_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar aggregates in one tagged row-set (both legs are
    the reference's zero-filled-domain idiom, SanFranciscoCrime.java:
    170-173 pre-seeds every bucket):

    - series='dow': the day-of-week mapper surface
      (SanFranciscoCrime.java:110-126 ``CategoryMapByDayOfWeek`` —
      shipped but never wired into main; SURVEY §7.3.3). Pivot over
      the explicit 7-day domain, zero-filled, then melted back to
      long form with ``unpivot`` so it unions with the daily leg.
    - series='daily': gap-filled dense daily series — ``sequence()``
      generates the day spine from the observed bounds, cross-joined
      with the category dim and left-joined to the sparse counts;
      the spine sides are tiny → both joins broadcast."""
    inc = category_incidents(spark, sf_dir)
    dow = (
        inc.select("category", F.dayofweek("d").alias("dw"))
        .groupBy("category")
        .pivot("dw", list(range(1, 8)))
        .count()
        .na.fill(0)
        .select(
            "category",
            *[F.col(str(i + 1)).alias(n.lower()) for i, n in enumerate(_DOW)],
        )
        .unpivot("category", [n.lower() for n in _DOW], "slot", "n")
        .select(F.lit("dow").alias("series"), "slot", "category", "n")
    )
    counts = inc.groupBy(
        F.col("d").alias("cd"), F.col("category").alias("cc")
    ).agg(F.count(F.lit(1)).alias("n"))
    days = (
        inc.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    cats = inc.select("category").distinct()
    daily = (
        days.crossJoin(F.broadcast(cats))
        .join(
            F.broadcast(counts),
            (F.col("day") == F.col("cd")) & (F.col("category") == F.col("cc")),
            "left",
        )
        .select(
            F.lit("daily").alias("series"),
            F.date_format("day", "yyyy-MM-dd").alias("slot"),
            "category",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )
    return dow.unionByName(daily)


#: P6 — plotDistrict.r:3-6 selects 4 named districts; nation-name analog.
R_DISTRICTS = ["NATION_1", "NATION_4", "NATION_7", "NATION_12"]


@register(
    "awk_totals",
    f"""
    select 'category_totals' as rule, category as key, count(*) as n
    from {CATEGORY_INCIDENTS_SQL} t group by category
    union all
    select 'regex_rows' as rule, source as key, count(*) as n
    from documents where regexp_matches(text, '^[a-m]')
    group by source
    union all
    select 'in_districts' as rule, district as key, count(*) as n
    from {INCIDENTS_SQL} t
    where district in ({", ".join(f"'{d}'" for d in R_DISTRICTS)})
    group by district
    union all
    select 'weekly_overflow' as rule, category as key, count(*) as n
    from (select category, {week_bucket_sql('d')} as bucket
          from {CATEGORY_INCIDENTS_SQL} t)
    where bucket >= {N_WEEK_BUCKETS}
    group by category
    """,
    survey_ids=("A4", "P5", "P6", "A1"),
)
def awk_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The row-filter + count-by-key surface in one tagged entry: raw
    per-category counts (A4, categoryTotals.awk:1-15; doubles as the
    property check sum(w0..w15) == total in tests), the
    ``/^[0-9]/``-style regex row filter (P5, applied to a letter
    class since the fixture text is lowercase), and the value-IN
    district filter (P6, plotDistrict.r:3-6)."""
    from ..sources.parquet import load_table

    cat = (
        category_incidents(spark, sf_dir)
        .groupBy(F.col("category").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("category_totals").alias("rule"), "key", "n")
    )
    rex = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").rlike("^[a-m]"))
        .groupBy(F.col("source").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("regex_rows").alias("rule"), "key", "n")
    )
    dist = (
        incidents(spark, sf_dir)
        .filter(F.col("district").isin(R_DISTRICTS))
        .groupBy(F.col("district").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("in_districts").alias("rule"), "key", "n")
    )
    # SURVEY §7.3.2's documented deviation made observable: the
    # reference widens pivot rows on-the-fly for bucket > 15
    # (SanFranciscoCrime.java:183-187); this engine fixes the domain
    # 0..15 and AUDITS what that drops (empty on any quarter-aligned
    # dataset; a 6th-week month shows up here, not silently vanishes).
    ovf = (
        category_incidents(spark, sf_dir)
        .select("category", week_bucket_col(F.col("d")).alias("bucket"))
        .filter(F.col("bucket") >= N_WEEK_BUCKETS)
        .groupBy(F.col("category").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("weekly_overflow").alias("rule"), "key", "n")
    )
    return cat.unionByName(rex).unionByName(dist).unionByName(ovf)
