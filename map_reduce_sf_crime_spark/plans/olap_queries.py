"""Star-schema + OLAP queries (SURVEY §2 A5, A6, J2, J3, J4, O2).

The MDX surface (bycategory.mdx, bydistrict.mdx, mondrian.jsp:6-9) is
implemented as Spark SQL semantics — star join + sum + rollup — per
SURVEY §7.5 (no MDX parser; same answers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.star import star_rows, star_tables, star_tables_sql
from ..functions.caching import plan_cache, plan_checkpoint_single
from .crimes_view import INCIDENTS_SQL, incidents
from .registry import register

_SQL = star_tables_sql(INCIDENTS_SQL)


@register(
    "dims_catalog",
    f"""
    select 'category' as dim, category_id as id, name
    from ({_SQL["category"]})
    union all
    select 'district' as dim, district_id as id, name
    from ({_SQL["district"]})
    """,
    survey_ids=("A6", "O2", "A3"),
)
def dims_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both dictionary-encoded dims (sorted names → dense surrogate
    ids, LoadStarDB.java:118-135) in one tagged row-set."""
    t = star_tables(incidents(spark, sf_dir))
    cat = t["category"].select(
        F.lit("category").alias("dim"),
        F.col("category_id").alias("id"),
        "name",
    )
    dist = t["district"].select(
        F.lit("district").alias("dim"),
        F.col("district_id").alias("id"),
        "name",
    )
    return cat.unionByName(dist)


@register(
    "dim_timeperiod",
    f"""
    with tp as ({_SQL['timeperiod']}),
    probe as (
      select distinct year(d) as year, month(d) - 1 as month,
             dayofmonth(d) as day
      from {INCIDENTS_SQL} t
    ),
    looked as (
      select probe.year, probe.month, probe.day, tp2.time_id as lookup_time_id
      from probe left join tp tp2 using (year, month, day)
    )
    select tp.time_id, tp.year, tp.month, tp.week, tp.day,
           looked.lookup_time_id
    from tp left join looked using (year, month, day)
    """,
    survey_ids=("J2", "J3", "A3", "F3"),
)
def dim_timeperiod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LoadStarDB.java:149-160 insert-on-miss dedup → distinct+rank,
    PLUS the Kettle DBLookup probe (J3, dimensions.ktr:822-873) folded
    in: a probe set of distinct (year, month, day) keys left-joins the
    dim on the equi-keys and returns ``lookup_time_id`` (misses would
    surface as NULL, not dropped rows). The dim is tiny by
    construction → both joins broadcast."""
    tp = star_tables(incidents(spark, sf_dir))["timeperiod"].select(
        "time_id", "year", "month", "week", "day"
    )
    probe = tp.select("year", "month", "day").distinct()
    looked = probe.join(
        F.broadcast(tp.select("time_id", "year", "month", "day")),
        ["year", "month", "day"],
        "left",
    ).select("year", "month", "day", F.col("time_id").alias("lookup_time_id"))
    return tp.join(F.broadcast(looked), ["year", "month", "day"], "left").select(
        "time_id", "year", "month", "week", "day", "lookup_time_id"
    )


@register(
    "star_fact",
    _SQL["fact"],
    survey_ids=("J1", "J2", "J5", "K2", "K3"),
)
def star_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact(crimes, district_id, category_id, time_id) — LoadStarDB.java:170-177."""
    return star_tables(incidents(spark, sf_dir))["fact"]


def _star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: fact ⋈ category ⋈ district ⋈ timeperiod on FK=PK — all three
    dims broadcast (Mondrian's query-time star join, sfcrime.xml:5-26).
    Cached: every ``mdx_query`` over one sf dir aggregates this same
    denormalized frame (canonicalized-plan cache lookup shares one
    materialization across them). ``olap_rollups`` reads the same
    rows without the joins, through :func:`star_rows`."""
    t = star_tables(incidents(spark, sf_dir))
    return (
        t["fact"]
        .join(F.broadcast(t["category"].withColumnRenamed("name", "category")), "category_id")
        .join(F.broadcast(t["district"].withColumnRenamed("name", "district")), "district_id")
        .join(F.broadcast(t["timeperiod"]), "time_id")
        .transform(plan_cache)
    )


_STAR_JOIN_SQL = f"""
    select f.crimes, c.name as category, dd.name as district,
           tp.year, tp.month, tp.week, tp.day
    from ({_SQL["fact"]}) f
    join ({_SQL["category"]}) c using (category_id)
    join ({_SQL["district"]}) dd using (district_id)
    join ({_SQL["timeperiod"]}) tp using (time_id)
"""


_MDX_TOTALS_SQL = f"""
    select 'mdx_category' as hierarchy, category as l1,
           '(all)' as l2, '(all)' as l3,
           cast(sum(crimes) as bigint) as crimes
    from ({_STAR_JOIN_SQL}) s group by category
    union all
    select 'mdx_district' as hierarchy, district as l1,
           '(all)' as l2, '(all)' as l3,
           cast(sum(crimes) as bigint) as crimes
    from ({_STAR_JOIN_SQL}) s group by district
"""


#: The reference's three committed MDX queries (bycategory.mdx:1-4,
#: bydistrict.mdx:1-4, mondrian.jsp:6-9) with the single year member
#: rebound to the fixture's quarter: the reference corpus is 2013-Q1,
#: the testdata analog is 1995-Q1 (crimes_view.py), so [Time].[2013]
#: becomes [Time].[1995] — every other byte is the reference text.
#: These run through the FULL MDX front-end (tokenizer → parser →
#: compiler → tidy cells, mdx.py) inside the gate, so the hard
#: correctness signal hash-checks MDX-computed cells, not just the
#: equivalent hand-written rollups. (The byte-verbatim 2013 texts are
#: additionally pinned in tests/test_mdx.py.)
_MDX_VERBATIM = {
    "bycategory": """select {([Measures].[crimes], [Time].[1995])} ON COLUMNS,
  {[Category].[All Categories]} ON ROWS
from [sfcrime]
where [District].[All Districts]
""",
    "bydistrict": """select {([Measures].[crimes], [Time].[1995])} ON COLUMNS,
  {[District].[All Districts]} ON ROWS
from [sfcrime]
where [Category].[All Categories]
""",
    "jsp": """select {[Measures].[crimes]} ON COLUMNS,
  {([District].[All Districts], [Category].[All Categories])} ON ROWS
from [sfcrime]
where [Time].[1995]
""",
    # the DRILL-DOWN shape JPivot emits when a user expands both All
    # members of the mondrian.jsp grid (NON EMPTY + Crossjoin +
    # .Children — the grammar mdx.py implements beyond the three
    # committed texts; gate-promoted round 5 so the driver, not just
    # tests/test_mdx.py, watches it)
    "drill": """select {([Measures].[crimes], [Time].[1995])} ON COLUMNS,
  NON EMPTY Crossjoin({[District].[All Districts].Children},
                      {[Category].[All Categories].Children}) ON ROWS
from [sfcrime]
""",
    # the SORT and TOP-N shapes JPivot's sort arrow / "top" filter
    # emit against the grid (Order/TopCount — mdx.py round 6): the
    # sort's observable is the 1-based row ordinal, hash-checked by
    # folding it into l3 ("sorted#<ordinal>"); TopCount's observable
    # is membership (exactly the 3 largest districts survive)
    "sorted": """select {([Measures].[crimes], [Time].[1995])} ON COLUMNS,
  Order({[District].[All Districts].Children},
        ([Measures].[crimes], [Time].[1995]), BDESC) ON ROWS
from [sfcrime]
""",
    "top3": """select {([Measures].[crimes], [Time].[1995])} ON COLUMNS,
  TopCount({[District].[All Districts].Children}, 3,
           ([Measures].[crimes], [Time].[1995])) ON ROWS
from [sfcrime]
""",
    # round 10: the Generate(CurrentMember) iteration shape and the
    # mixed-level Descendants flag shape ride the same gate leg, so
    # the driver hash-checks the new grammar's cells, not only pytest
    "generate": """select {([Measures].[crimes], [Time].[1995])} ON COLUMNS,
  Generate({[District].[All Districts]},
           {[District].CurrentMember.Children}) ON ROWS
from [sfcrime]
""",
    "descflags": """select {[Measures].[crimes]} ON COLUMNS,
  Descendants([Time].[1995], [Time].[month], SELF_AND_BEFORE) ON ROWS
from [sfcrime]
""",
}

#: Round 11 — the calculated-member TIME-NAVIGATION shapes (the
#: period-over-period delta and the YTD running total, the two most
#: common WITH MEMBER idioms beyond ratios): PrevMember resolves
#: cross-parent on the typed level paths, PeriodsToDate accumulates
#: from the year start. Kept in a SEPARATE mdx_cells_many batch: a
#: calc member flips its batch's crimes to double (cell arithmetic),
#: and folding it into the base batch would silently widen every
#: existing hash-checked cell; the nav values are integer-valued sum
#: arithmetic, so the gate cell casts them back to bigint exactly.
_MDX_NAV_VERBATIM = {
    "prevmember": """WITH MEMBER [Measures].[delta] AS
  '[Measures].[crimes] - ([Measures].[crimes], [Time].CurrentMember.PrevMember)'
select {[Measures].[crimes], [Measures].[delta]} ON COLUMNS,
  Descendants([Time].[1995], [Time].[month]) ON ROWS
from [sfcrime]
""",
    "ytd": """WITH MEMBER [Measures].[ytd] AS
  'Sum(PeriodsToDate([Time].[year]), [Measures].[crimes])'
select {[Measures].[ytd]} ON COLUMNS,
  Descendants([Time].[1995], [Time].[month]) ON ROWS
from [sfcrime]
""",
    # round 11 (second leg): EDGE navigation — ClosingPeriod picks
    # each month's LAST week (a groupBy-max(struct) order statistic
    # over the level universe); the DuckDB twin is a
    # row_number-over-week-desc window
    "closingperiod": """WITH MEMBER [Measures].[eow] AS
  '([Measures].[crimes], ClosingPeriod([Time].[week]))'
select {[Measures].[eow]} ON COLUMNS,
  Descendants([Time].[1995], [Time].[month]) ON ROWS
from [sfcrime]
""",
}

_MDX_VERBATIM_SQL = """
    select 'mdx_verbatim' as hierarchy, 'All Categories' as l1,
           'crimes, 1995' as l2, 'bycategory' as l3,
           cast(sum(crimes) as bigint) as crimes
    from ({sj}) s where year = 1995
    union all
    select 'mdx_verbatim' as hierarchy, 'All Districts' as l1,
           'crimes, 1995' as l2, 'bydistrict' as l3,
           cast(sum(crimes) as bigint) as crimes
    from ({sj}) s where year = 1995
    union all
    select 'mdx_verbatim' as hierarchy,
           'All Districts, All Categories' as l1,
           'crimes' as l2, 'jsp' as l3,
           cast(sum(crimes) as bigint) as crimes
    from ({sj}) s where year = 1995
    union all
    select 'mdx_verbatim' as hierarchy,
           district || ', ' || category as l1,
           'crimes, 1995' as l2, 'drill' as l3,
           cast(sum(crimes) as bigint) as crimes
    from ({sj}) s where year = 1995
    group by district, category
    union all
    select 'mdx_verbatim' as hierarchy, district as l1,
           'crimes, 1995' as l2,
           'sorted#' || cast(row_number() over (
              order by sum(crimes) desc, district) as varchar) as l3,
           cast(sum(crimes) as bigint) as crimes
    from ({sj}) s where year = 1995
    group by district
    union all
    select 'mdx_verbatim' as hierarchy, district as l1,
           'crimes, 1995' as l2, 'top3' as l3, crimes
    from (
      select district, cast(sum(crimes) as bigint) as crimes,
             row_number() over (order by sum(crimes) desc, district) as rk
      from ({sj}) s where year = 1995
      group by district
    ) where rk <= 3
    union all
    select 'mdx_verbatim' as hierarchy, district as l1,
           'crimes, 1995' as l2, 'generate' as l3,
           cast(sum(crimes) as bigint) as crimes
    from ({sj}) s where year = 1995
    group by district
    union all
    select 'mdx_verbatim' as hierarchy, '1995' as l1,
           'crimes' as l2, 'descflags' as l3,
           cast(sum(crimes) as bigint) as crimes
    from ({sj}) s where year = 1995
    union all
    select 'mdx_verbatim' as hierarchy,
           '1995, ' || cast(month as varchar) as l1,
           'crimes' as l2, 'descflags' as l3,
           cast(sum(crimes) as bigint) as crimes
    from ({sj}) s where year = 1995
    group by month
    union all
    select 'mdx_verbatim' as hierarchy,
           '1995, ' || cast(month as varchar) as l1,
           'crimes' as l2, 'prevmember' as l3,
           cast(sum(crimes) as bigint) as crimes
    from ({sj}) s where year = 1995
    group by month
    union all
    select 'mdx_verbatim' as hierarchy,
           '1995, ' || cast(month as varchar) as l1,
           'delta' as l2, 'prevmember' as l3,
           cast(crimes - p as bigint) as crimes
    from (
      select year, month, sum(crimes) as crimes,
             lag(sum(crimes)) over (order by year, month) as p
      from ({sj}) s group by year, month
    ) where year = 1995 and p is not null
    union all
    select 'mdx_verbatim' as hierarchy,
           '1995, ' || cast(month as varchar) as l1,
           'ytd' as l2, 'ytd' as l3,
           cast(sum(sum(crimes)) over (
             partition by year order by month
             rows between unbounded preceding and current row
           ) as bigint) as crimes
    from ({sj}) s where year = 1995
    group by year, month
    union all
    select 'mdx_verbatim' as hierarchy,
           '1995, ' || cast(month as varchar) as l1,
           'eow' as l2, 'closingperiod' as l3,
           cast(crimes as bigint) as crimes
    from (
      select month, sum(crimes) as crimes,
             row_number() over (
               partition by year, month order by week desc
             ) as rk
      from ({sj}) s where year = 1995
      group by year, month, week
    ) where rk = 1
""".format(sj=_STAR_JOIN_SQL)


@register(
    "olap_rollups",
    f"""
    {_MDX_TOTALS_SQL}
    union all
    select 'geo' as hierarchy,
           coalesce(district, '(all)') as l1,
           coalesce(category, '(all)') as l2,
           '(all)' as l3,
           cast(sum(crimes) as bigint) as crimes
    from ({_STAR_JOIN_SQL}) s
    where year = 1995
    group by rollup (district, category)
    union all
    select 'time' as hierarchy,
           coalesce(cast(year as varchar), '(all)') as l1,
           coalesce(cast(month as varchar), '(all)') as l2,
           coalesce(cast(week as varchar), '(all)') as l3,
           cast(sum(crimes) as bigint) as crimes
    from ({_STAR_JOIN_SQL}) s
    group by rollup (year, month, week)
    union all
    {_MDX_VERBATIM_SQL}
    """,
    survey_ids=("A5", "J4", "MDX"),
)
def olap_rollups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole MDX/Mondrian aggregate surface in one tagged row-set:
    'mdx_category'/'mdx_district' = bycategory.mdx:1-4 +
    bydistrict.mdx:1-4 member totals ([Measures].[crimes] per member);
    'geo' = mondrian.jsp:6-9 year-slice district × category with
    subtotals and grand total; 'time' = year→month→week
    (sfcrime.xml:18-26 TimeDimension levels; week per MySQL DDL
    starschema.sql:5). Catalyst expands each rollup to a single
    Expand + one hash aggregate over the checkpointed star rows —
    no N² of separate group-bys at scale.

    The star is :func:`star_rows`, read straight off the daily
    aggregate; the DuckDB twin keeps Mondrian's star join, so the
    gate checks that the two agree."""
    # r11: checkpoint the star before fanning out into the ~15
    # aggregation legs below. Every leg embeds the star's full logical
    # subtree, so the per-build Catalyst walk over the final union
    # planned ~15 copies of it — measured 5.9 s (cells leg) + 2.4 s
    # (nav leg) per action at sf0.1, collapsing to 2.1 s + 1.2 s over
    # the checkpoint's LogicalRDD. Values identical (plan_checkpoint
    # contract); the no-checkpoint plan-audit knob still exposes the
    # full build plan.
    # The star rows come straight off the daily aggregate (star_rows):
    # the dims star_tables derives are that aggregate's own distinct
    # values, so the six broadcast joins of _star_join (three to build
    # the fact, three to join the dims back) only dropped NULL-key
    # rows and added d's calendar levels (the star phase of a build
    # ran 27 jobs with them, 3 without, sf0.01).
    # ONE partition: the star is bounded by construction — |days in
    # Q1-1995| × |o_orderpriority| × |nations| ≤ 90 × 5 × 25 = 11,250
    # rows at every scale factor (538 at sf0.01) — so
    # plan_checkpoint_single holds it in one partition whose
    # SinglePartition every leg's aggregate and window satisfies: the
    # fan-out plans no Exchange and runs as one job, where a
    # multi-partition checkpoint gave each leg its own adaptive query
    # stage. The incidents scan and the orders ⋈ customer join
    # upstream stay parallel.
    sj = plan_checkpoint_single(star_rows(incidents(spark, sf_dir)))
    # mdx_category + mdx_district member totals + the full time
    # rollup are ONE grouping-sets aggregate: a single Expand + one
    # hash aggregate over the star, instead of three
    # separate shuffled aggregation passes. grouping() indicators
    # route each output row to its hierarchy tag. geo DELIBERATELY
    # stays its own pass: folding it in (extra [year, district,
    # category] sets + post-agg year filter) was measured neutral
    # locally and is WORSE at scale — Expand would push the whole
    # fact through 8 set-copies instead of 6, while the separate pass
    # expands only the year slice by 3 with the year predicate pushed
    # into the (pruned) scan. Grouping-sets share a pass only when
    # every set wants the same input rows.
    gs = sj.groupingSets(
        [
            ["category"],
            ["district"],
            ["year", "month", "week"],
            ["year", "month"],
            ["year"],
            [],
        ],
        "category",
        "district",
        "year",
        "month",
        "week",
    ).agg(
        F.sum("crimes").alias("crimes"),
        F.grouping("category").alias("gc"),
        F.grouping("district").alias("gd"),
    )
    is_cat, is_dist = F.col("gc") == 0, F.col("gd") == 0
    tagged = gs.select(
        F.when(is_cat, F.lit("mdx_category"))
        .when(is_dist, F.lit("mdx_district"))
        .otherwise(F.lit("time"))
        .alias("hierarchy"),
        F.when(is_cat, F.col("category"))
        .when(is_dist, F.col("district"))
        .otherwise(F.coalesce(F.col("year").cast("string"), F.lit("(all)")))
        .alias("l1"),
        F.when(is_cat | is_dist, F.lit("(all)"))
        .otherwise(F.coalesce(F.col("month").cast("string"), F.lit("(all)")))
        .alias("l2"),
        F.when(is_cat | is_dist, F.lit("(all)"))
        .otherwise(F.coalesce(F.col("week").cast("string"), F.lit("(all)")))
        .alias("l3"),
        "crimes",
    )
    geo = (
        sj.filter(F.col("year") == 1995)
        .rollup("district", "category")
        .agg(F.sum("crimes").alias("crimes"))
        .select(
            F.lit("geo").alias("hierarchy"),
            F.coalesce("district", F.lit("(all)")).alias("l1"),
            F.coalesce("category", F.lit("(all)")).alias("l2"),
            F.lit("(all)").alias("l3"),
            "crimes",
        )
    )
    # the reference's three MDX queries PLUS the JPivot drill shape
    # (NON EMPTY Crossjoin of both .Children sets), through the REAL
    # front-end (parse → compile → cells over the same star).
    # Batched: the three reference queries' cells are scalar, so
    # mdx_cells_many folds them into ONE conditional aggregation; the
    # drill pair is the one enumerating groupBy — two extra jobs for
    # the whole MDX leg, not one per query/cell.
    from ..mdx import mdx_cells_many, parse_mdx

    # l3 folds the Order ordinal in ("sorted#<n>"; concat_ws skips the
    # NULL ordinal of unsorted tags) so the JPivot sort's observable
    # — the member ORDER — is itself hash-checked by the driver
    cells = mdx_cells_many(
        sj, [(tag, parse_mdx(text)) for tag, text in _MDX_VERBATIM.items()]
    ).select(
        F.lit("mdx_verbatim").alias("hierarchy"),
        F.col("row_member").alias("l1"),
        F.col("col_member").alias("l2"),
        F.concat_ws(
            "#", F.col("tag"), F.col("row_ordinal").cast("string")
        ).alias("l3"),
        "crimes",
    )
    # round 11: the time-navigation calc shapes, own batch (see
    # _MDX_NAV_VERBATIM for why), integer-valued cell arithmetic cast
    # back to the gate's exact bigint
    nav_cells = mdx_cells_many(
        sj,
        [(tag, parse_mdx(text)) for tag, text in _MDX_NAV_VERBATIM.items()],
    ).select(
        F.lit("mdx_verbatim").alias("hierarchy"),
        F.col("row_member").alias("l1"),
        F.col("col_member").alias("l2"),
        F.col("tag").alias("l3"),
        F.col("crimes").cast("bigint").alias("crimes"),
    )
    # CHECKPOINT at the final artifact boundary (round 7, same
    # diagnosis as corpus_sample — BASELINE.md round-7 attribution):
    # the MDX-leg union's logical tree re-paid ~2.2-2.7 s of
    # analyzer/optimizer walk on EVERY warm action (a bare count on
    # the built 357-row frame measured 2.7 s; execution is
    # milliseconds). The tracked localCheckpoint swaps the lineage
    # for a LogicalRDD scan; values bit-identical, gate unchanged.
    # One partition: the artifact is a few hundred rows, bounded by
    # the star's members. The star checkpoint is released once the
    # artifact materializes (single-copy policy): nothing downstream
    # references it.
    return plan_checkpoint_single(
        tagged.unionByName(geo).unionByName(cells).unionByName(nav_cells),
        release_after=(sj,),
    )
