"""Data-quality validation suite (operators/dataquality.py): profile
and constraint results pinned against DuckDB twins and hand-computed
fixtures; plan shape (single shared scan for row-local checks, one
melted pass for the profile) pinned against the formatted plan."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from map_reduce_sf_crime_spark.operators import dataquality as dq
from map_reduce_sf_crime_spark.sources.parquet import load_table

from .conftest import SF_CHECK, SF_SMOKE

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch",
    "dataquality",
)


def _canon(df):
    """Order-insensitive stringified rows (gate-style)."""
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return [tuple(r) for r in pdf.astype(str).itertuples(index=False)]


def _duck(sf_dir, sql):
    con = duckdb.connect()
    for t in ("documents", "orders", "customer", "lineitem"):
        con.sql(
            f"create view {t} as select * from "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.sql(sql).df()


def test_column_profile_oracle(spark):
    """Exact profile statistics match DuckDB column-by-column on the
    real documents table; the HLL self-check column is green."""
    docs = load_table(spark, SF_CHECK, "documents")
    kinds = []
    for f in docs.schema.fields:
        if f.name in ("doc_id", "n_chars"):
            kinds.append((f.name, "num"))
        elif f.name in ("text", "lang", "source"):
            kinds.append((f.name, "str"))
    cols = [c for c, _ in kinds]
    prof = dq.column_profile(docs, cols)
    rows = prof.collect()
    assert len(rows) == len(cols)
    assert all(r.approx_ok == 1 for r in rows), [
        (r.col, r.n_distinct, r.approx_distinct) for r in rows
    ]
    got = _canon(prof.drop("approx_distinct"))
    want_df = _duck(SF_CHECK, dq.column_profile_sql("documents", kinds))
    import pandas as pd

    want_df = want_df[sorted(want_df.columns)]
    want_df = want_df.sort_values(by=list(want_df.columns), kind="mergesort")
    want = [tuple(r) for r in want_df.astype(str).itertuples(index=False)]
    assert got == want


def test_column_profile_plan_shape(spark):
    """The profile is ONE melted pass: a single parquet scan, no join,
    and only the count-distinct two-phase exchanges."""
    docs = load_table(spark, SF_CHECK, "documents")
    prof = dq.column_profile(docs, ["doc_id", "lang", "source"])
    import re

    plan = prof._jdf.queryExecution().explainString(
        prof.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # formatted mode prints each node in the tree AND a detail header;
    # count the numbered detail headers only
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan
    # melt → (col, v)-keyed partial distinct → (col)-keyed final:
    # nothing else may shuffle
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_column_profile_values_fixture(spark):
    """Hand-checkable numbers on a tiny frame, incl. NULL handling,
    numeric-vs-string stat routing, and the unknown-column guard."""
    pdf = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", None),
            (3, None, 30.0),
            (4, "b", 40.0),
        ],
        "id int, s string, v double",
    )
    rows = {r.col: r for r in dq.column_profile(pdf).collect()}
    assert rows["s"].n_null == 1
    assert rows["s"].n_distinct == 2
    assert rows["s"].min_str == "a" and rows["s"].max_str == "b"
    assert rows["s"].min_num is None
    assert rows["v"].n_null == 1
    assert rows["v"].min_num == 10.0 and rows["v"].max_num == 40.0
    assert abs(rows["v"].mean_num - (80.0 / 3)) < 1e-6
    assert rows["v"].min_str is None
    assert rows["id"].null_frac == 0.0
    with pytest.raises(ValueError, match="not in frame"):
        dq.column_profile(pdf, ["nope"])


def test_check_constraints_fixture(spark):
    """Every constraint kind against a fixture with KNOWN violation
    counts (nulls, range breaches, bad categorical, dup keys, orphan
    FK); NULLs only violate not_null."""
    child = spark.createDataFrame(
        [
            (1, 10, "ok", 5.0),
            (2, 10, "ok", -1.0),  # range violation
            (3, None, "bad", 5.0),  # null ref + bad category
            (4, 99, "ok", None),  # orphan ref
            (5, 10, "ok", 5.0),
            (5, 20, "ok", 5.0),  # dup id (2 rows in dup group)
        ],
        "id int, ref int, cat string, score double",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pid int")
    res = {
        r.constraint: r
        for r in dq.check_constraints(
            child,
            [
                dq.not_null("ref"),
                dq.in_range("score", 0.0, 10.0),
                dq.accepted_values("cat", ("ok", "meh")),
                dq.matches("cat", "^[a-z]+$"),
                dq.unique("id"),
                dq.foreign_key(("ref",), parent, ("pid",)),
            ],
        ).collect()
    }
    assert res["not_null(ref)"].violations == 1
    assert res["in_range(score,0.0,10.0)"].violations == 1  # NULL exempt
    assert res["accepted_values(cat)"].violations == 1
    assert res["matches(cat)"].violations == 0
    assert res["unique(id)"].violations == 2  # both rows of the dup group
    assert res["unique(id)"].total == 6
    # fk: null ref dropped, 99 orphaned → 1 violation of 5 non-null
    assert res["foreign_key(ref)"].violations == 1
    assert res["foreign_key(ref)"].total == 5
    assert all(
        (r.ok == 1) == (r.violations == 0) for r in res.values()
    )
    with pytest.raises(ValueError, match="duplicate constraint"):
        dq.check_constraints(child, [dq.not_null("ref")] * 2)
    with pytest.raises(ValueError, match="empty"):
        dq.check_constraints(child, [])


def test_check_constraints_row_checks_share_one_scan(spark):
    """N row-local checks compile to ONE aggregate over ONE scan —
    adding a check adds an expression, not a job."""
    path = os.path.join(SCRATCH, "rowchecks")
    shutil.rmtree(path, ignore_errors=True)
    load_table(spark, SF_CHECK, "documents").write.parquet(path)
    df = spark.read.parquet(path)
    suite = dq.check_constraints(
        df,
        [
            dq.not_null("doc_id"),
            dq.not_null("text"),
            dq.in_range("n_chars", 0, 10_000),
            dq.accepted_values("lang", ("en", "de", "fr", "es", "zh")),
            dq.matches("source", r"^[a-z0-9_.-]+$"),
        ],
    )
    import re

    plan = suite._jdf.queryExecution().explainString(
        suite.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_check_constraints_tpch_oracle(spark):
    """Real referential/uniqueness audit of the TPC-H-ish tables,
    counts pinned against DuckDB: orders→customer FK is clean,
    (l_orderkey, l_linenumber) is a key, o_orderkey is a key."""
    orders = load_table(spark, SF_CHECK, "orders")
    customer = load_table(spark, SF_CHECK, "customer")
    lineitem = load_table(spark, SF_CHECK, "lineitem")
    got = {
        r.constraint: (r.total, r.violations)
        for r in dq.check_constraints(
            orders,
            [
                dq.unique("o_orderkey"),
                dq.foreign_key(("o_custkey",), customer, ("c_custkey",)),
            ],
        )
        .unionByName(
            dq.check_constraints(
                lineitem, [dq.unique("l_orderkey", "l_linenumber")]
            )
        )
        .collect()
    }
    want = _duck(
        SF_CHECK,
        """
        select count(*) as total,
               coalesce(sum(n) filter (n > 1), 0) as viol
        from (select count(*) as n from orders group by o_orderkey)
        """,
    ).iloc[0]
    assert got["unique(o_orderkey)"] == (
        int(want.total),
        int(want.viol),
    )
    fk_want = _duck(
        SF_CHECK,
        """
        select count(*) as total,
               count(*) filter (c_custkey is null) as viol
        from orders left join customer on o_custkey = c_custkey
        where o_custkey is not null
        """,
    ).iloc[0]
    assert got["foreign_key(o_custkey)"] == (
        int(fk_want.total),
        int(fk_want.viol),
    )
    li_want = _duck(
        SF_CHECK,
        """
        select coalesce(sum(n), 0) as total,
               coalesce(sum(n) filter (n > 1), 0) as viol
        from (select count(*) as n from lineitem
              group by l_orderkey, l_linenumber)
        """,
    ).iloc[0]
    assert got["unique(l_orderkey,l_linenumber)"] == (
        int(li_want.total),
        int(li_want.viol),
    )


def test_volume_anomaly_oracle(spark):
    """Trailing-window z-score matches the DuckDB window twin bit-for-
    bit on a fixture with real variance, a spike, and the degenerate
    openings (no history / flat history → 0.0 by convention)."""
    rows = []
    n = {0: 100, 1: 103, 2: 97, 3: 101, 4: 99, 5: 104, 6: 96}
    for i in range(20):
        rows.append((f"2026-07-{i + 1:02d}", n.get(i % 7, 100) + (i // 7)))
    rows.append(("2026-07-21", 1000))  # the spike
    rows.append(("2026-07-22", 100))
    daily = spark.createDataFrame(rows, "day string, n long")
    got = _canon(dq.volume_anomaly(daily))
    con = duckdb.connect()
    con.sql(
        "create view d as select * from (values "
        + ", ".join(f"('{d}', {v})" for d, v in rows)
        + ") t(day, n)"
    )
    want_df = con.sql(dq.volume_anomaly_sql("select * from d")).df()
    want_df = want_df[sorted(want_df.columns)]
    want_df = want_df.sort_values(by=list(want_df.columns), kind="mergesort")
    want = [tuple(r) for r in want_df.astype(str).itertuples(index=False)]
    assert got == want
    by_day = {r[0]: r for r in got}
    # spike flagged, neighbors not; first row has no history → 0.0
    spike = dq.volume_anomaly(daily).filter(F.col("day") == "2026-07-21")
    assert spike.collect()[0].vol_anom == 1
    first = dq.volume_anomaly(daily).filter(F.col("day") == "2026-07-01")
    assert first.collect()[0].vol_z == 0.0
    assert by_day  # canon non-empty sanity


def test_volume_anomaly_flat_history_convention(spark):
    """A perfectly flat baseline (stddev 0) reports z 0.0 — pinned so
    the documented convention can't silently drift from the oracle's."""
    daily = spark.createDataFrame(
        [(f"2026-07-{i + 1:02d}", 100) for i in range(5)]
        + [("2026-07-06", 9999)],
        "day string, n long",
    )
    out = {r.day: r for r in dq.volume_anomaly(daily).collect()}
    assert out["2026-07-06"].vol_z == 0.0
    assert out["2026-07-06"].vol_anom == 0


def test_snapshot_drift(spark):
    """Drift between two lakehouse commits: row growth, a null_frac
    regression, and distinct-count movement all surface; both sides
    resolve through read_as_of (archived pre-images)."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        write_partitioned,
    )

    path = os.path.join(SCRATCH, "drift_docs")
    shutil.rmtree(path, ignore_errors=True)
    docs = (
        load_table(spark, SF_CHECK, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .withColumn("part", (F.col("doc_id") % 4).cast("int"))
    )
    write_partitioned(docs, path, ["part"])
    n0 = docs.count()
    # commit ids number the MERGES (the plain write has no manifest):
    # commit 0 = a no-op-shaped touch of part=0 establishing the
    # baseline snapshot; commit 1 = the drift under audit
    merge_upsert(
        spark,
        path,
        docs.filter(F.col("part") == 0).localCheckpoint(),
        key_cols=["doc_id"],
        partition_cols=["part"],
        archive=True,
    )
    # commit 1: null out lang for part=1 rows (a quality regression a
    # drift audit must catch) and insert 50 brand-new rows
    changed = (
        docs.filter(F.col("part") == 1)
        .withColumn("lang", F.lit(None).cast("string"))
        .localCheckpoint()
    )
    inserts = spark.range(50).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.lit("xx").alias("lang"),
        F.lit("drifted_source").alias("source"),
        F.lit(7).cast("int").alias("n_chars"),
        F.lit(1).cast("int").alias("part"),
    )
    merge_upsert(
        spark,
        path,
        changed.unionByName(inserts),
        key_cols=["doc_id"],
        partition_cols=["part"],
        archive=True,
    )
    drift = {
        r.col: r
        for r in dq.snapshot_drift(
            spark, path, 0, 1, ["doc_id", "lang", "source"]
        ).collect()
    }
    assert drift["doc_id"].n_rows_a == n0
    assert drift["doc_id"].n_rows_b == n0 + 50
    assert drift["lang"].null_frac_a == 0.0
    assert drift["lang"].null_frac_b > 0.0
    assert drift["lang"].null_frac_delta == pytest.approx(
        drift["lang"].null_frac_b, abs=1e-9
    )
    # 'xx' is a new language and 'drifted_source' a new source
    assert drift["lang"].n_distinct_b == drift["lang"].n_distinct_a + 1
    assert drift["source"].n_distinct_b == drift["source"].n_distinct_a + 1
    assert drift["source"].distinct_ratio > 1.0


def test_k_anonymity_flags(spark):
    """DQ5 privacy audit: known equivalence classes (incl. a NULL
    quasi value as its own class), per-row flags, l-diversity, arg
    validation."""
    rows = (
        [(i, "en", "srcA", f"s{i}") for i in range(6)]         # size 6, l=6
        + [(10, "en", "srcB", "x"), (11, "en", "srcB", "x")]    # size 2, l=1
        + [(20, "de", None, "y")]                               # NULL class, size 1
        + [(30, "fr", "srcC", "z"), (31, "fr", "srcC", "z"),
           (32, "fr", "srcC", "w")]                             # size 3, l=2
    )
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, sens string"
    )
    flags = {
        r.doc_id: (r.class_size, r.class_l_div, r.at_risk)
        for r in dq.k_anonymity_flags(
            df, ["lang", "source"], k=3, sensitive_col="sens"
        ).collect()
    }
    assert len(flags) == len(rows)
    assert flags[0] == (6, 6, 0)
    assert flags[10] == (2, 1, 1)
    assert flags[20] == (1, 1, 1)  # NULL source is a real class
    assert flags[30] == (3, 2, 0)
    assert sum(1 for _, _, r in flags.values() if r) == 3
    with pytest.raises(ValueError, match="quasi_cols"):
        dq.k_anonymity_flags(df, [])
    with pytest.raises(ValueError, match="k must"):
        dq.k_anonymity_flags(df, ["lang"], k=0)


def test_k_anonymity_matches_duckdb_twin(spark):
    """Per-row flag equality with the DuckDB twin on the real
    documents table, quasi = (lang, source)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    got = sorted(
        tuple(r)
        for r in dq.k_anonymity_flags(
            docs, ["lang", "source"], k=5, sensitive_col="n_chars"
        ).collect()
    )
    con = duckdb.connect()
    con.sql(
        f"create view documents as select * from "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    want = sorted(
        con.sql(
            dq.k_anonymity_flags_sql(
                ["lang", "source"], k=5, sensitive_col="n_chars"
            )
        ).fetchall()
    )
    assert got == want
    # the synthetic corpus genuinely straddles k=5 (some rows at risk)
    assert 0 < sum(r[-1] for r in got) < len(got)


def test_column_profile_rejects_duplicate_cols(spark):
    """A duplicate entry in cols would double that column's
    n_rows/n_null silently — loud refusal instead."""
    import pytest as _pytest
    from map_reduce_sf_crime_spark.operators.dataquality import column_profile

    df = spark.createDataFrame([(1, "a")], "id int, s string")
    with _pytest.raises(ValueError, match="duplicate profile columns"):
        column_profile(df, ["id", "s", "id"])
