"""Data-quality validation operators — the Deequ-shaped checks a
training-data pipeline runs BEFORE a 100 TB corpus reaches a trainer
(Schelter et al., "Automating Large-Scale Data Quality Verification",
VLDB 2018; the public AWS Deequ / PyDeequ surface). No reference
counterpart (the reference trusts its CSV blindly and logs-and-drops
malformed rows, SanFranciscoCrime.java:90-99); here validation is a
first-class operator family:

- :func:`column_profile` — per-column completeness / cardinality /
  range statistics in ONE melted aggregation pass;
- :func:`check_constraints` + the small constraint DSL
  (:func:`not_null`, :func:`in_range`, :func:`accepted_values`,
  :func:`matches`, :func:`unique`, :func:`foreign_key`) — a
  verification suite compiled into the minimum number of jobs (all
  row-local checks share one scan);
- :func:`volume_anomaly` — day-over-day ingest-volume z-score against
  a trailing window, the "did yesterday's crawl silently halve?"
  tripwire;
- :func:`snapshot_drift` — profile deltas between two lakehouse
  commits (composes sources/lakehouse.read_as_of), the "what changed
  since the snapshot my last model trained on?" audit.

Scale shapes (100 TB):

- ``column_profile`` melts each row into one (column, value) pair per
  profiled column — the data crosses the wire ×n_cols once, keyed by
  (col, value) through the count-distinct Expand, so partial
  aggregation collapses repeated values map-side (a constant column
  contributes ONE surviving pair per partition, not its row count).
  There is no cheaper exact-distinct shape; the HLL column
  (``approx_distinct``) rides the same pass and is the knob to drop
  exact distinct entirely when ±rsd suffices.
- Row-local constraints compile to ``sum(when(violated, 1))`` columns
  of a SINGLE scan-side aggregate — adding a check is free; only
  key-shaped checks (``unique``: one groupBy on the key;
  ``foreign_key``: one join pruned to the key columns, broadcast when
  the parent is dim-sized, AQE otherwise) pay their own shuffle,
  because they must.
- ``volume_anomaly`` windows over a per-day AGGREGATE — bounded rows
  (years × 365), so the unpartitioned ordered window is a dim-sized
  single task by construction, same argument as operators/dims.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType

#: Relative standard deviation for the HLL approx-distinct leg of the
#: profile; 0.05 is Spark's default and the bound ``approx_ok``
#: checks against (with 3x headroom — HLL's rsd is one sigma).
PROFILE_RSD = 0.05


def column_profile(
    df: DataFrame, cols: list[str] | None = None, rsd: float = PROFILE_RSD
) -> DataFrame:
    """One row per profiled column:

    ``(col, n_rows, n_null, null_frac, n_distinct, approx_distinct,
    approx_ok, min_num, max_num, mean_num, min_str, max_str)``

    - ``n_distinct`` is EXACT (nulls excluded, Deequ's
      CountDistinct); ``approx_distinct`` is the HLL++ sketch riding
      the same aggregate, and ``approx_ok`` = |approx − exact| ≤
      3·rsd·exact — the profile self-certifies its own sketch, so a
      consumer can switch to sketch-only (drop the exact column and
      its Expand) with a measured error bound in hand.
    - ``min_num``/``max_num``/``mean_num`` populate for numeric
      columns only; ``min_str``/``max_str`` for string columns only
      (binary lexicographic — mixing stringified numerics in would
      make "min" depend on float rendering, not value order).

    The melt is row-local (explode of a per-row struct array — zero
    shuffle before the (col)-keyed aggregate); every statistic of
    every column is answered by the ONE resulting pass."""
    if cols is None:
        cols = [f.name for f in df.schema.fields]
    by_name = {f.name: f.dataType for f in df.schema.fields}
    unknown = [c for c in cols if c not in by_name]
    if unknown:
        raise ValueError(f"profile columns not in frame: {unknown}")
    dupes = sorted({c for c in cols if cols.count(c) > 1})
    if dupes:
        # A duplicate entry would melt its struct twice, silently
        # doubling that column's n_rows/n_null while n_distinct stayed
        # correct — loud refusal over a quietly wrong profile.
        raise ValueError(f"duplicate profile columns: {dupes}")
    entries = []
    for c in cols:
        dt = by_name[c]
        num = (
            F.col(c).cast("double")
            if isinstance(dt, NumericType)
            else F.lit(None).cast("double")
        )
        s = (
            F.col(c)
            if isinstance(dt, StringType)
            else F.lit(None).cast("string")
        )
        entries.append(
            F.struct(
                F.lit(c).alias("col"),
                F.col(c).cast("string").alias("v"),
                num.alias("v_num"),
                s.alias("v_str"),
            )
        )
    pairs = df.select(F.explode(F.array(*entries)).alias("p")).select("p.*")
    return pairs.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("v")).alias("n_null"),
        F.round((F.count(F.lit(1)) - F.count("v")) / F.count(F.lit(1)), 6)
        .alias("null_frac"),
        F.countDistinct("v").alias("n_distinct"),
        F.approx_count_distinct("v", rsd).alias("approx_distinct"),
        (
            F.abs(F.approx_count_distinct("v", rsd) - F.countDistinct("v"))
            <= 3 * rsd * F.countDistinct("v")
        )
        .cast("int")
        .alias("approx_ok"),
        F.min("v_num").alias("min_num"),
        F.max("v_num").alias("max_num"),
        F.round(F.avg("v_num"), 6).alias("mean_num"),
        F.min("v_str").alias("min_str"),
        F.max("v_str").alias("max_str"),
    )


def column_profile_sql(table: str, cols: list[tuple[str, str]]) -> str:
    """DuckDB twin of :func:`column_profile` (exact statistics only —
    the HLL column has no cross-engine twin, so the SQL emits
    ``approx_ok = 1``, asserting the Spark side's self-check held).
    ``cols``: (name, kind) with kind in {"num", "str", "other"}."""
    parts = []
    for name, kind in cols:
        v_num = f"cast({name} as double)" if kind == "num" else "cast(null as double)"
        v_str = name if kind == "str" else "cast(null as varchar)"
        parts.append(
            f"""
            select '{name}' as col, count(*) as n_rows,
                   count(*) - count(cast({name} as varchar)) as n_null,
                   round((count(*) - count(cast({name} as varchar)))
                         / cast(count(*) as double), 6) as null_frac,
                   count(distinct cast({name} as varchar)) as n_distinct,
                   1 as approx_ok,
                   min({v_num}) as min_num, max({v_num}) as max_num,
                   round(avg({v_num}), 6) as mean_num,
                   min({v_str}) as min_str, max({v_str}) as max_str
            from {table}
            """
        )
    return " union all ".join(parts)


# ---------------------------------------------------------------- checks


@dataclass(frozen=True)
class Check:
    """One verification constraint. ``kind`` picks the compilation
    strategy: ``row`` checks share a single scan-side aggregate;
    ``unique`` / ``fk`` checks are key-shaped and compile to their own
    (unavoidable) shuffle each."""

    name: str
    kind: str  # "row" | "unique" | "fk"
    predicate: Column | None = None  # row: TRUE means VIOLATED
    key_cols: tuple[str, ...] = ()
    parent: DataFrame | None = None
    parent_cols: tuple[str, ...] = ()
    meta: str = field(default="")


def not_null(col: str) -> Check:
    return Check(f"not_null({col})", "row", F.col(col).isNull())


def in_range(col: str, lo, hi) -> Check:
    """Violated when outside [lo, hi]; NULLs don't violate (compose
    with :func:`not_null` when they should)."""
    c = F.col(col)
    return Check(
        f"in_range({col},{lo},{hi})",
        "row",
        c.isNotNull() & ~c.between(F.lit(lo), F.lit(hi)),
    )


def accepted_values(col: str, values: tuple) -> Check:
    c = F.col(col)
    return Check(
        f"accepted_values({col})",
        "row",
        c.isNotNull() & ~c.isin(*values),
    )


def matches(col: str, regex: str) -> Check:
    c = F.col(col)
    return Check(
        f"matches({col})",
        "row",
        c.isNotNull() & ~c.rlike(regex),
    )


def unique(*cols: str) -> Check:
    return Check(
        f"unique({','.join(cols)})", "unique", key_cols=tuple(cols)
    )


def foreign_key(
    cols: tuple[str, ...], parent: DataFrame, parent_cols: tuple[str, ...]
) -> Check:
    """Referential integrity: every non-null child key must exist in
    the parent's key set. Violations = orphaned child rows."""
    if len(cols) != len(parent_cols):
        raise ValueError("child/parent key arity mismatch")
    return Check(
        f"foreign_key({','.join(cols)})",
        "fk",
        key_cols=tuple(cols),
        parent=parent,
        parent_cols=tuple(parent_cols),
    )


def check_constraints(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Run a constraint suite; one result row per check:

    ``(constraint, kind, total, violations, ok)``

    Compilation: ALL row-local checks become ``sum(when(violated,1))``
    columns of one aggregate over one scan (adding a row check costs
    one expression, not one job); each ``unique`` check is one
    groupBy on its key counting rows in >1-sized groups; each ``fk``
    check is one left-anti join against the parent's distinct keys
    (column-pruned to the key on both sides; broadcast-or-AQE decides
    the physical join). The one-row branch results are unioned into
    one frame — collect-free, so the suite composes into larger plans
    (gates, scheduled audits) like any other operator."""
    if not checks:
        raise ValueError("empty constraint suite")
    names = [c.name for c in checks]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate constraint names: {names}")
    branches: list[DataFrame] = []
    row_checks = [c for c in checks if c.kind == "row"]
    if row_checks:
        agg = df.agg(
            F.count(F.lit(1)).alias("_total"),
            *[
                F.coalesce(
                    F.sum(F.when(c.predicate, 1).otherwise(0)), F.lit(0)
                )
                .cast("long")
                .alias(f"_v{i}")
                for i, c in enumerate(row_checks)
            ],
        )
        melted = agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c.name).alias("constraint"),
                            F.lit("row").alias("kind"),
                            F.col("_total").cast("long").alias("total"),
                            F.col(f"_v{i}").alias("violations"),
                        )
                        for i, c in enumerate(row_checks)
                    ]
                )
            ).alias("r")
        ).select("r.*")
        branches.append(melted)
    for c in checks:
        if c.kind == "unique":
            keyed = df.select(*c.key_cols)
            groups = keyed.groupBy(*c.key_cols).agg(
                F.count(F.lit(1)).alias("_n")
            )
            branches.append(
                groups.agg(
                    F.coalesce(F.sum("_n"), F.lit(0))
                    .cast("long")
                    .alias("total"),
                    F.coalesce(
                        F.sum(F.when(F.col("_n") > 1, F.col("_n"))), F.lit(0)
                    )
                    .cast("long")
                    .alias("violations"),
                ).select(
                    F.lit(c.name).alias("constraint"),
                    F.lit("unique").alias("kind"),
                    "total",
                    "violations",
                )
            )
        elif c.kind == "fk":
            child = df.select(*c.key_cols).na.drop()
            parent_keys = (
                c.parent.select(
                    *[
                        F.col(p).alias(k)
                        for k, p in zip(c.key_cols, c.parent_cols)
                    ]
                )
                .na.drop()
                .distinct()
            )
            orphans = child.join(parent_keys, list(c.key_cols), "left_anti")
            branches.append(
                child.agg(F.count(F.lit(1)).cast("long").alias("total"))
                .crossJoin(
                    F.broadcast(
                        orphans.agg(
                            F.count(F.lit(1)).cast("long").alias("violations")
                        )
                    )
                )
                .select(
                    F.lit(c.name).alias("constraint"),
                    F.lit("fk").alias("kind"),
                    "total",
                    "violations",
                )
            )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.withColumn(
        "ok", (F.col("violations") == 0).cast("int")
    )


# ------------------------------------------------------------- anomaly

#: Trailing window (days) and z-score threshold for volume_anomaly.
ANOMALY_WINDOW = 7
ANOMALY_Z = 3.0


def volume_anomaly(
    daily: DataFrame,
    value_col: str = "n",
    order_col: str = "day",
    window: int = ANOMALY_WINDOW,
    z_thresh: float = ANOMALY_Z,
) -> DataFrame:
    """Ingest-volume tripwire over a per-period aggregate: z-score of
    each period's ``value_col`` against the mean/stddev of the
    ``window`` PRECEDING periods (never itself — a spike must not
    mask itself by inflating its own baseline). Appends:

    - ``vol_z``: round((v − trailing_mean)/trailing_stddev, 4);
      0.0 when the trailing stddev is 0/undefined (first rows, or a
      perfectly flat history — flat history + any change is caught by
      the mean term ONLY when variance exists, so a 0-variance
      baseline reports z 0.0 and relies on longer windows; documented
      rather than inventing an epsilon the oracle can't mirror);
    - ``vol_anom``: 1 when |vol_z| > ``z_thresh``.

    Input is a per-period aggregate (bounded rows: years × 365), so
    the unpartitioned ordered window is a single dim-sized task by
    construction — the operators/dims.py argument, not a scale
    hazard. The same column pair has an exact DuckDB window twin
    (:func:`volume_anomaly_sql`), which is what lets the gate
    hash-check the anomaly leg inside ``events_daily_profile``."""
    w = (
        Window.orderBy(order_col)
        .rowsBetween(-window, -1)
    )
    v = F.col(value_col).cast("double")
    mu = F.avg(v).over(w)
    sd = F.stddev_samp(v).over(w)
    z = F.when(
        sd.isNotNull() & (sd > 0), F.round((v - mu) / sd, 4)
    ).otherwise(F.lit(0.0))
    return daily.withColumn("vol_z", z).withColumn(
        "vol_anom", (F.abs(F.col("vol_z")) > z_thresh).cast("int")
    )


def volume_anomaly_sql(
    inner_sql: str,
    value_col: str = "n",
    order_col: str = "day",
    window: int = ANOMALY_WINDOW,
    z_thresh: float = ANOMALY_Z,
) -> str:
    """DuckDB twin: same trailing frame, same rounding, same 0.0
    degenerate-baseline convention."""
    frame = (
        f"over (order by {order_col} "
        f"rows between {window} preceding and 1 preceding)"
    )
    return f"""
    select t.*,
           case when coalesce(stddev_samp(cast({value_col} as double)) {frame}, 0) > 0
                then round((cast({value_col} as double)
                            - avg(cast({value_col} as double)) {frame})
                           / stddev_samp(cast({value_col} as double)) {frame}, 4)
                else 0.0 end as vol_z,
           cast(abs(case when coalesce(stddev_samp(cast({value_col} as double)) {frame}, 0) > 0
                         then round((cast({value_col} as double)
                                     - avg(cast({value_col} as double)) {frame})
                                    / stddev_samp(cast({value_col} as double)) {frame}, 4)
                         else 0.0 end) > {z_thresh} as int) as vol_anom
    from ({inner_sql}) t
    """


# --------------------------------------------------------------- drift


def snapshot_drift(
    spark,
    path: str,
    cid_a: int,
    cid_b: int,
    cols: list[str] | None = None,
) -> DataFrame:
    """Column-profile drift between two lakehouse commits — the audit
    a retraining run opens with: "what moved in this table since the
    snapshot my last model trained on?" One row per profiled column:

    ``(col, n_rows_a, n_rows_b, null_frac_a, null_frac_b,
    null_frac_delta, n_distinct_a, n_distinct_b, distinct_ratio,
    mean_num_a, mean_num_b)``

    Both sides resolve through :func:`..sources.lakehouse.read_as_of`
    (so vacuumed retention raises instead of silently profiling the
    wrong bytes), each side is ONE melted profile pass, and the final
    join is profile-sized (one row per column) — drift cost is two
    table scans regardless of how many commits lie between the two
    snapshot ids."""
    from ..sources.lakehouse import read_as_of

    a = column_profile(read_as_of(spark, path, cid_a), cols)
    b = column_profile(read_as_of(spark, path, cid_b), cols)
    pa = a.select(
        "col",
        F.col("n_rows").alias("n_rows_a"),
        F.col("null_frac").alias("null_frac_a"),
        F.col("n_distinct").alias("n_distinct_a"),
        F.col("mean_num").alias("mean_num_a"),
    )
    pb = b.select(
        "col",
        F.col("n_rows").alias("n_rows_b"),
        F.col("null_frac").alias("null_frac_b"),
        F.col("n_distinct").alias("n_distinct_b"),
        F.col("mean_num").alias("mean_num_b"),
    )
    return pa.join(pb, "col", "full_outer").select(
        "col",
        "n_rows_a",
        "n_rows_b",
        "null_frac_a",
        "null_frac_b",
        F.round(
            F.coalesce("null_frac_b", F.lit(0.0))
            - F.coalesce("null_frac_a", F.lit(0.0)),
            6,
        ).alias("null_frac_delta"),
        "n_distinct_a",
        "n_distinct_b",
        F.when(
            F.coalesce("n_distinct_a", F.lit(0)) > 0,
            F.round(
                F.col("n_distinct_b") / F.col("n_distinct_a"), 6
            ),
        ).alias("distinct_ratio"),
        "mean_num_a",
        "mean_num_b",
    )


# ---------------------------------------------------------------------------
# DQ5: privacy risk audit — k-anonymity / l-diversity
# ---------------------------------------------------------------------------


def k_anonymity_flags(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-row re-identification risk under k-anonymity (Sweeney 2002,
    public; l-diversity per Machanavajjhala et al. 2007 when
    ``sensitive_col`` is given): rows whose quasi-identifier
    combination is shared by fewer than ``k`` rows are flagged —
    the redaction/suppression worklist a privacy pass consumes next
    to the TX5 PII scrub. Returns
    ``(id_col, class_size[, class_l_div], at_risk)``.

    NULL quasi values form their own equivalence class (SQL GROUP BY
    semantics — a NULL zip is still a linkable value pattern).

    Scale shape: ONE groupBy on the quasi columns (map-side combined;
    the class table is at most |quasi-value combinations| rows) and
    one join back on those columns — broadcast when the class table
    is small, AQE-planned otherwise. No window, no collect."""
    if not quasi_cols:
        raise ValueError("quasi_cols must name at least one column")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    aggs = [F.count(F.lit(1)).alias("class_size")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(F.col(sensitive_col)).alias("class_l_div")
        )
    classes = df.groupBy(*quasi_cols).agg(*aggs)
    # null-safe join back: a NULL quasi value IS an equivalence class
    # (the groupBy formed it) — a plain equi-join would silently drop
    # those rows, the exact class the audit most wants to see
    rows = df.select(id_col, *quasi_cols).alias("r")
    cls = classes.alias("c")
    cond = None
    for q in quasi_cols:
        leg = F.col(f"r.{q}").eqNullSafe(F.col(f"c.{q}"))
        cond = leg if cond is None else (cond & leg)
    joined = rows.join(cls, cond)
    out = [
        F.col(f"r.{id_col}").alias(id_col),
        F.col("class_size"),
        (F.col("class_size") < k).cast("int").alias("at_risk"),
    ]
    if sensitive_col is not None:
        out.insert(2, F.col("class_l_div"))
    return joined.select(*out)


def k_anonymity_flags_sql(
    quasi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
    id_col: str = "doc_id",
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`k_anonymity_flags` — same NULL-safe
    join-back semantics (IS NOT DISTINCT FROM mirrors eqNullSafe)."""
    qcols = ", ".join(quasi_cols)
    ldiv = (
        f", cast(count(distinct {sensitive_col}) as bigint) as class_l_div"
        if sensitive_col
        else ""
    )
    ldiv_out = ", c.class_l_div" if sensitive_col else ""
    cond = " and ".join(
        f"r.{q} is not distinct from c.{q}" for q in quasi_cols
    )
    return f"""
    with _classes as (
      select {qcols}, cast(count(*) as bigint) as class_size{ldiv}
      from {table} group by {qcols}
    )
    select r.{id_col}, c.class_size{ldiv_out},
           cast(case when c.class_size < {k} then 1 else 0 end as int)
             as at_risk
    from {table} r join _classes c on {cond}
    """
