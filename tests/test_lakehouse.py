"""Physical-plan guarantees of the lakehouse layouts: partition
pruning actually prunes, bucketed joins actually skip the shuffle."""

from __future__ import annotations

import pytest

import os
import shutil

from pyspark.sql import functions as F

from map_reduce_sf_crime_spark.plans.crimes_view import incidents
from map_reduce_sf_crime_spark.sources.lakehouse import (
    read_partitioned,
    write_bucketed,
    write_partitioned,
)
from map_reduce_sf_crime_spark.sources.parquet import load_table

from .conftest import SF_SMOKE

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "lakehouse")


def _formatted_plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_partition_pruning(spark):
    path = os.path.join(SCRATCH, "inc_by_month")
    inc = incidents(spark, SF_SMOKE).withColumn("month", F.month("d"))
    write_partitioned(inc, path, ["month"])
    # hive-style layout on disk
    assert any(p.startswith("month=") for p in os.listdir(path))

    sliced = read_partitioned(spark, path).filter(F.col("month") == 2)
    plan = _formatted_plan(sliced)
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "month" in pf  # predicate reached the partition index
    # pruning is real: only the matching partition's rows are read
    assert sliced.count() == inc.filter(F.col("month") == 2).count()
    files = [r[0] for r in sliced.select(F.input_file_name()).distinct().collect()]
    assert files and all("month=2" in f for f in files)


def test_bucketed_join_no_shuffle(spark):
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_customer"):
        spark.sql(f"drop table if exists {t}")
        # the in-memory catalog resets per session but the warehouse
        # directory persists — clear both or saveAsTable refuses
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    customer = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_name")
    write_bucketed(orders, "b_orders", "o_custkey", n_buckets=8)
    write_bucketed(customer.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", "o_custkey", n_buckets=8)

    joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
    # disable auto-broadcast so the test exercises the bucketed path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted_plan(joined)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join must not shuffle"
    # and it is still correct
    expected = orders.join(
        customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
    ).count()
    assert joined.count() == expected


def teardown_module(module):
    shutil.rmtree(SCRATCH, ignore_errors=True)


def test_merge_upsert_rewrites_only_touched_partitions(spark):
    """CDC merge must be partition-granular copy-on-write: a change
    batch confined to month=2 leaves every other partition's files
    byte-identical (same names, same mtimes) and applies
    update/insert/delete semantics exactly."""
    from map_reduce_sf_crime_spark.sources.lakehouse import merge_upsert

    path = os.path.join(SCRATCH, "merge_fact")
    shutil.rmtree(path, ignore_errors=True)
    daily = (
        incidents(spark, SF_SMOKE)
        .groupBy(F.month("d").alias("month"), "d", "category", "district")
        .agg(F.count(F.lit(1)).alias("crimes"))
    )
    write_partitioned(daily, path, ["month"])

    def snapshot(part):
        d = os.path.join(path, f"month={part}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = {m: snapshot(m) for m in (1, 3)}
    m2 = read_partitioned(spark, path).filter(F.col("month") == 2)
    one_key = m2.orderBy("d", "category", "district").limit(1).collect()[0]
    changes = spark.createDataFrame(
        [
            # update: bump the chosen key's count to 999
            (2, one_key.d, one_key.category, one_key.district, 999, False),
            # insert: a brand-new key in the same partition
            (2, one_key.d, "NEW-CAT", one_key.district, 7, False),
            # delete: every row of one other category
        ],
        "month int, d date, category string, district string, crimes long, _delete boolean",
    ).unionByName(
        m2.filter(F.col("category") != one_key.category)
        .limit(3)
        .withColumn("_delete", F.lit(True))
    )
    deleted_keys = {
        (r.d, r.category, r.district)
        for r in changes.filter("_delete").collect()
    }
    merge_upsert(
        spark,
        path,
        changes,
        key_cols=["d", "category", "district"],
        partition_cols=["month"],
        delete_col="_delete",
    )
    # untouched partitions: byte-identical files
    assert {m: snapshot(m) for m in (1, 3)} == before
    after = read_partitioned(spark, path).filter(F.col("month") == 2)
    rows = {
        (r.d, r.category, r.district): r.crimes for r in after.collect()
    }
    assert rows[(one_key.d, one_key.category, one_key.district)] == 999
    assert rows[(one_key.d, "NEW-CAT", one_key.district)] == 7
    assert not deleted_keys & set(rows)
    # other partitions' row counts unchanged
    full = read_partitioned(spark, path)
    assert full.filter(F.col("month") == 1).count() == daily.filter(
        F.col("month") == 1
    ).count()


def _file_stats(path: str, col: str):
    """Per-file (min, max) footer stats for ``col`` across row groups."""
    import glob

    import pyarrow.parquet as papq

    out = []
    for fp in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        md = papq.ParquetFile(fp).metadata
        idx = next(
            i for i in range(md.num_columns) if md.schema.column(i).name == col
        )
        stats = [
            md.row_group(g).column(idx).statistics
            for g in range(md.num_row_groups)
        ]
        assert all(s is not None and s.has_min_max for s in stats), (
            f"{fp}:{col} lacks min/max footer stats"
        )
        out.append((min(s.min for s in stats), max(s.max for s in stats)))
    return out


def _naive(v):
    """Parquet footer timestamps come back tz-aware (UTC), Spark
    collect gives naive — normalize for comparison."""
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.replace(tzinfo=None)
    return v


def _overlapping(stats, lo, hi) -> int:
    """How many files a [lo, hi] predicate must read under
    footer-stat (min/max) skipping."""
    lo, hi = _naive(lo), _naive(hi)
    return sum(
        1
        for fmin, fmax in stats
        if not (_naive(fmax) < lo or _naive(fmin) > hi)
    )


def test_zorder_data_skipping(spark):
    """write_zordered clusters files on BOTH dimensions: a slice
    predicate on either column skips files by min/max footer stats,
    where the single-sort layout only skips on its sort column."""
    from map_reduce_sf_crime_spark.sources.lakehouse import write_zordered

    # INT96 (the default) carries no usable footer stats — write
    # timestamps as INT64 micros so min/max skipping is measurable.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        ev = load_table(spark, SF_SMOKE, "events").select(
            "event_id", "ts", "user_id", "value"
        )
        zpath = os.path.join(SCRATCH, "ev_zorder")
        lpath = os.path.join(SCRATCH, "ev_linear")
        # baseline: the classic one-column sort layout
        (
            ev.repartitionByRange(16, "user_id")
            .sortWithinPartitions("user_id")
            .write.mode("overwrite")
            .parquet(lpath)
        )
        write_zordered(ev, zpath, ["user_id", "ts"], n_files=16)

        # layout changes bytes, never rows
        rows = sorted(map(tuple, ev.collect()))
        assert rows == sorted(
            map(tuple, spark.read.parquet(zpath).select(*ev.columns).collect())
        )

        ts_vals = sorted(r[1] for r in rows)
        uid_vals = sorted({r[2] for r in rows})
        # the two canonical selective shapes: a ~10% time slice and a
        # single-user point lookup, both mid-range
        ts_lo, ts_hi = ts_vals[int(len(ts_vals) * 0.45)], ts_vals[int(len(ts_vals) * 0.55)]
        uid_lo = uid_hi = uid_vals[len(uid_vals) // 2]

        lin_ts = _file_stats(lpath, "ts")
        lin_uid = _file_stats(lpath, "user_id")
        z_ts = _file_stats(zpath, "ts")
        z_uid = _file_stats(zpath, "user_id")
        n_lin, n_z = len(lin_ts), len(z_ts)

        lin_ts_hit = _overlapping(lin_ts, ts_lo, ts_hi)
        z_ts_hit = _overlapping(z_ts, ts_lo, ts_hi)
        lin_uid_hit = _overlapping(lin_uid, uid_lo, uid_hi)
        z_uid_hit = _overlapping(z_uid, uid_lo, uid_hi)

        # single-sort: perfect on its sort column, blind on time
        assert lin_uid_hit <= n_lin // 2
        assert lin_ts_hit >= int(n_lin * 0.8)
        # z-order: skips on BOTH dimensions. A slice straddling two
        # curve quadrants legitimately reads up to ~half the files —
        # the guarantee is BALANCE (no blind dimension), so the
        # worst-case dimension must strictly beat the linear layout's
        # worst case, and each dimension individually must prune.
        assert z_ts_hit <= int(n_z * 0.6)
        assert z_uid_hit <= int(n_z * 0.6)
        assert max(z_ts_hit, z_uid_hit) < max(lin_ts_hit, lin_uid_hit)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")


def test_compact_partitioned(spark):
    """compact_partitioned bin-packs small files per partition,
    rewrites only partitions over the file-count threshold, and is
    idempotent (second run touches nothing)."""
    import glob

    from map_reduce_sf_crime_spark.sources.lakehouse import compact_partitioned

    path = os.path.join(SCRATCH, "ev_compact")
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .withColumn("day", F.to_date("ts"))
        .select("event_id", "user_id", "value", "day")
    )
    # simulate a micro-batch sink: 8 small files in every partition
    ev.repartition(8).write.mode("overwrite").partitionBy("day").parquet(path)

    def files_per_partition():
        out = {}
        for d in os.listdir(path):
            if d.startswith("day="):
                out[d] = sorted(
                    os.path.basename(p)
                    for p in glob.glob(os.path.join(path, d, "part-*.parquet"))
                )
        return out

    before = files_per_partition()
    # each day's rows scatter over the 8 writer tasks → many small
    # files per partition (≥2 suffices to exercise compaction)
    assert all(len(fs) >= 2 for fs in before.values())
    expect_rows = sorted(map(tuple, ev.collect()))

    compacted = compact_partitioned(
        spark, path, ["day"], target_rows_per_file=10_000
    )
    assert len(compacted) == len(before)
    after = files_per_partition()
    assert all(len(fs) == 1 for fs in after.values())
    assert expect_rows == sorted(
        map(tuple, spark.read.parquet(path).select(*ev.columns).collect())
    )

    # idempotent: nothing exceeds the threshold now, bytes untouched
    snap = {
        d: [
            (f, os.path.getsize(os.path.join(path, d, f)))
            for f in fs
        ]
        for d, fs in after.items()
    }
    assert compact_partitioned(spark, path, ["day"], 10_000) == []
    assert snap == {
        d: [(f, os.path.getsize(os.path.join(path, d, f))) for f in fs]
        for d, fs in files_per_partition().items()
    }

    # oversized partitions split: a tiny row target forces multiple
    # output files per partition, capped by ceil(rows / target)
    ev.repartition(8).write.mode("overwrite").partitionBy("day").parquet(path)
    compact_partitioned(spark, path, ["day"], target_rows_per_file=10)
    per_day_rows = {
        f"day={r['day']}": r["n"]
        for r in ev.groupBy("day").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    split = files_per_partition()
    assert expect_rows == sorted(
        map(tuple, spark.read.parquet(path).select(*ev.columns).collect())
    )
    caps = {d: -(-per_day_rows[d] // 10) for d in split}
    assert all(1 <= len(split[d]) <= caps[d] for d in split)
    assert any(len(split[d]) >= 2 for d in split)
    # idempotent for OVERSIZED partitions too: a partition already at
    # its bin-packed ceil(rows/target) file count is done, not
    # rewritten forever
    assert compact_partitioned(spark, path, ["day"], target_rows_per_file=10) == []


def test_schema_evolution_merge(spark):
    """Additive schema evolution on the plain-parquet lakehouse: a
    batch appended with a new nullable column surfaces table-wide
    under merge_schema=True (earlier files read NULL); a type
    conflict fails loudly instead of coercing."""
    import pytest
    from pyspark.sql.utils import AnalysisException

    path = os.path.join(SCRATCH, "evolving")
    shutil.rmtree(path, ignore_errors=True)
    v1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "a")], "id long, qty long, batch string"
    )
    write_partitioned(v1, path, ["batch"])
    v2 = spark.createDataFrame(
        [(3, 30, 0.5, "b")], "id long, qty long, score double, batch string"
    )
    write_partitioned(v2, path, ["batch"], mode="append")

    # default read pins one footer's schema; merged read unions them
    merged = read_partitioned(spark, path, merge_schema=True)
    assert set(merged.columns) == {"id", "qty", "score", "batch"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: 0.5}

    # conflicting type for an existing column: loud failure, no coercion
    v3 = spark.createDataFrame([(4, "not-a-number", "c")], "id long, qty string, batch string")
    write_partitioned(v3, path, ["batch"], mode="append")
    with pytest.raises(Exception) as ei:
        read_partitioned(spark, path, merge_schema=True).collect()
    assert "qty" in str(ei.value) or "merge" in str(ei.value).lower()


def test_append_keeps_matching_schema_record_drops_differing(spark, tmp_path):
    """write_partitioned records the table's schema; an append with
    the same schema keeps the record, one with another schema deletes
    it, and the table then reads by Spark's inference (the decimal
    partition column as double)."""
    path = str(tmp_path / "recorded")
    record = os.path.join(path, "_commits", "_schema.json")
    v1 = spark.createDataFrame(
        [(1, "a")], "id long, tag string"
    ).withColumn("p", F.expr("cast(1.5 as decimal(10,2))"))
    write_partitioned(v1, path, ["p"])
    assert read_partitioned(spark, path).dtypes == [
        ("id", "bigint"), ("tag", "string"), ("p", "decimal(10,2)")
    ]
    write_partitioned(v1.withColumn("id", F.lit(2).cast("long")), path, ["p"],
                      mode="append")
    assert os.path.exists(record)
    assert sorted(r["id"] for r in read_partitioned(spark, path).collect()) == [1, 2]
    write_partitioned(v1.withColumn("score", F.lit(0.5)), path, ["p"],
                      mode="append")
    assert not os.path.exists(record)
    assert dict(read_partitioned(spark, path).dtypes)["p"] == "double"


def test_compact_handles_null_partition(spark):
    """Rows in the NULL partition (__HIVE_DEFAULT_PARTITION__) are
    compacted too, not silently dropped or skipped — partition
    predicates and the salt join are null-safe."""
    from map_reduce_sf_crime_spark.sources.lakehouse import compact_partitioned

    path = os.path.join(SCRATCH, "ev_compact_null")
    df = spark.createDataFrame(
        [(i, "g1" if i % 3 else None) for i in range(90)], "id long, grp string"
    )
    df.repartition(6).write.mode("overwrite").partitionBy("grp").parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    compacted = compact_partitioned(spark, path, ["grp"], target_rows_per_file=10_000)
    assert len(compacted) == 2 and (None,) in compacted
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert before == after
    import glob

    null_dir = os.path.join(path, "grp=__HIVE_DEFAULT_PARTITION__")
    assert len(glob.glob(os.path.join(null_dir, "part-*.parquet"))) == 1


def test_merge_upsert_null_flag_and_null_key(spark):
    """A NULL delete flag means UPSERT (not silent delete), and
    NULL-valued key columns match their own key instead of
    duplicating."""
    from map_reduce_sf_crime_spark.sources.lakehouse import merge_upsert

    path = os.path.join(SCRATCH, "merge_nulls")
    shutil.rmtree(path, ignore_errors=True)
    base = spark.createDataFrame(
        [(1, "a", None, 10), (1, "b", "x", 20)],
        "p int, k1 string, k2 string, v long",
    )
    write_partitioned(base, path, ["p"])
    changes = spark.createDataFrame(
        [
            (1, "a", None, 11, None),   # NULL flag → update, NULL key col
            (1, "b", "x", 99, True),    # explicit delete
            (1, "c", "y", 30, None),    # NULL flag → insert
        ],
        "p int, k1 string, k2 string, v long, _del boolean",
    )
    merge_upsert(
        spark, path, changes, key_cols=["k1", "k2"], partition_cols=["p"],
        delete_col="_del",
    )
    rows = {(r.k1, r.k2): r.v for r in spark.read.parquet(path).collect()}
    assert rows == {("a", None): 11, ("c", "y"): 30}


def test_torn_rewrite_detection_and_recovery(spark):
    """Crash-consistency (the manifest commit): dynamic partition
    overwrite is atomic per partition but not across partitions, so a
    crash mid-merge can leave one touched partition NEW and another
    still OLD. Simulate exactly that — month=1 rolled back to its
    pre-merge files, the commit marker never written — and assert:
    (1) table_state reports TORN and names the suspect partitions,
    (2) assert_committed raises instead of serving the torn table,
    (3) re-running the SAME merge (the documented recovery contract)
    lands a new intent+commit and converges to the clean post-merge
    answer — the merge is idempotent, so the partition that DID swap
    before the crash is not double-applied."""
    import pytest

    from map_reduce_sf_crime_spark.sources.lakehouse import (
        assert_committed,
        merge_upsert,
        table_state,
    )

    path = os.path.join(SCRATCH, "torn_fact")
    shutil.rmtree(path, ignore_errors=True)
    daily = (
        incidents(spark, SF_SMOKE)
        .groupBy(F.month("d").alias("month"), "d", "category", "district")
        .agg(F.count(F.lit(1)).alias("crimes"))
    )
    write_partitioned(daily, path, ["month"])
    assert table_state(spark, path)["status"] == "clean"  # no history yet

    backup = os.path.join(SCRATCH, "torn_fact_m1_backup")
    shutil.rmtree(backup, ignore_errors=True)
    shutil.copytree(os.path.join(path, "month=1"), backup)

    # the change batch must be STABLE data (not a live plan over the
    # table being merged), as a real CDC batch would be
    changes = (
        read_partitioned(spark, path)
        .filter(F.col("month").isin(1, 2))
        .withColumn("crimes", F.col("crimes") + 1000)
        .localCheckpoint()
    )
    key_cols, part_cols = ["d", "category", "district"], ["month"]
    merge_upsert(spark, path, changes, key_cols=key_cols, partition_cols=part_cols)
    assert table_state(spark, path)["status"] == "clean"
    want = {
        (r.month, r.d, r.category, r.district): r.crimes
        for r in read_partitioned(spark, path).collect()
    }

    # crash simulation: commit marker gone, month=1 still the OLD files
    commits = os.path.join(path, "_commits")
    marker = sorted(
        f for f in os.listdir(commits) if f.endswith(".commit.json")
    )[-1]
    os.remove(os.path.join(commits, marker))
    shutil.rmtree(os.path.join(path, "month=1"))
    shutil.copytree(backup, os.path.join(path, "month=1"))

    state = table_state(spark, path)
    assert state["status"] == "torn"
    assert any(p.endswith("month=1") for p in state["suspect"])
    with pytest.raises(RuntimeError, match="torn"):
        assert_committed(spark, path)

    # recovery: re-run the same merge with the same batch
    merge_upsert(spark, path, changes, key_cols=key_cols, partition_cols=part_cols)
    assert table_state(spark, path)["status"] == "clean"
    got = {
        (r.month, r.d, r.category, r.district): r.crimes
        for r in read_partitioned(spark, path).collect()
    }
    assert got == want


def test_commit_detects_post_commit_file_loss(spark):
    """The other torn shape: the commit landed but files recorded in
    it were later deleted/truncated — table_state compares the
    committed inventory against the disk and flags the divergence."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        read_partitioned,
        table_state,
    )

    path = os.path.join(SCRATCH, "lost_files_fact")
    shutil.rmtree(path, ignore_errors=True)
    base = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 30)], "p int, k string, v long"
    )
    write_partitioned(base, path, ["p"])
    changes = spark.createDataFrame([(1, "a", 11)], "p int, k string, v long")
    merge_upsert(spark, path, changes, key_cols=["k"], partition_cols=["p"])
    assert table_state(spark, path)["status"] == "clean"
    pdir = os.path.join(path, "p=1")
    victim = sorted(
        f for f in os.listdir(pdir) if f.endswith(".parquet")
    )[0]
    os.remove(os.path.join(pdir, victim))
    state = table_state(spark, path)
    assert state["status"] == "torn"
    assert any(p.endswith("p=1") for p in state["suspect"])


@pytest.mark.slow
def test_vacuum_commits_keeps_latest(spark):
    """Manifest retention: vacuum drops old intent/commit pairs but
    never the latest one, and table_state stays clean afterwards."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        table_state,
        vacuum_commits,
    )

    path = os.path.join(SCRATCH, "vacuum_fact")
    shutil.rmtree(path, ignore_errors=True)
    base = spark.createDataFrame([(1, "a", 10)], "p int, k string, v long")
    write_partitioned(base, path, ["p"])
    for v in range(11, 16):  # five merges → five commit pairs
        merge_upsert(
            spark,
            path,
            spark.createDataFrame([(1, "a", v)], "p int, k string, v long"),
            key_cols=["k"],
            partition_cols=["p"],
        )
    commits = os.path.join(path, "_commits")

    def manifest_files():
        # the Hadoop local FS adds .crc sidecars, and _schema.json is the
        # table's schema record; count the manifests
        return [
            f for f in os.listdir(commits)
            if f.endswith((".intent.json", ".commit.json"))
        ]

    assert len(manifest_files()) == 10  # 5 intents + 5 commits
    dropped = vacuum_commits(spark, path, keep_last=2)
    assert dropped == 3
    assert len(manifest_files()) == 4
    assert table_state(spark, path)["status"] == "clean"
    # keep_last floors at 1: the latest pair survives
    vacuum_commits(spark, path, keep_last=0)
    assert len(manifest_files()) == 2
    assert table_state(spark, path)["status"] == "clean"
    assert os.path.exists(os.path.join(commits, "_schema.json"))


def test_torn_intent_not_masked_by_later_commit(spark):
    """A later successful rewrite of OTHER partitions must not bury an
    earlier crash: the unfinished intent's partitions stay suspect
    until a later committed operation rewrites THEM (which is exactly
    what the re-run recovery does)."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        table_state,
    )

    path = os.path.join(SCRATCH, "masked_fact")
    shutil.rmtree(path, ignore_errors=True)
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "p int, k string, v long"
    )
    write_partitioned(base, path, ["p"])
    ch12 = spark.createDataFrame(
        [(1, "a", 11), (2, "b", 21)], "p int, k string, v long"
    ).localCheckpoint()
    merge_upsert(spark, path, ch12, key_cols=["k"], partition_cols=["p"])
    # crash simulation: the p=1,2 commit marker never landed
    commits = os.path.join(path, "_commits")
    marker = sorted(f for f in os.listdir(commits) if f.endswith(".commit.json"))[-1]
    os.remove(os.path.join(commits, marker))
    # a LATER, unrelated merge of p=3 completes cleanly
    ch3 = spark.createDataFrame([(3, "c", 31)], "p int, k string, v long")
    merge_upsert(spark, path, ch3, key_cols=["k"], partition_cols=["p"])
    state = table_state(spark, path)
    assert state["status"] == "torn"
    assert {s for s in state["suspect"]} == {"p=1", "p=2"}
    # recovery: re-run the p=1,2 merge → its partitions are covered by
    # a later committed intent → clean again
    merge_upsert(spark, path, ch12, key_cols=["k"], partition_cols=["p"])
    assert table_state(spark, path)["status"] == "clean"


def test_manifest_escapes_partition_values(spark):
    """Partition values containing hive-escaped characters ('/', ':')
    must inventory the REAL escaped directory — otherwise the
    corruption checks silently no-op on those partitions."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        table_state,
    )

    path = os.path.join(SCRATCH, "escaped_fact")
    shutil.rmtree(path, ignore_errors=True)
    cat = "DRUG/NARCOTIC: SALE"
    base = spark.createDataFrame(
        [(cat, "a", 10), (cat, "b", 20), ("OTHER", "c", 30)],
        "cat string, k string, v long",
    )
    write_partitioned(base, path, ["cat"])
    changes = spark.createDataFrame([(cat, "a", 11)], "cat string, k string, v long")
    merge_upsert(spark, path, changes, key_cols=["k"], partition_cols=["cat"])
    state = table_state(spark, path)
    assert state["status"] == "clean"
    # the escaped dir exists and was inventoried with real files
    esc = "cat=DRUG%2FNARCOTIC%3A SALE"
    assert os.path.isdir(os.path.join(path, esc))
    import json as _json

    commits = os.path.join(path, "_commits")
    commit = sorted(f for f in os.listdir(commits) if f.endswith(".commit.json"))[-1]
    post = _json.load(open(os.path.join(commits, commit)))["post"]
    assert esc in post and len(post[esc]) > 0
    # deleting a file in the escaped dir is DETECTED
    victim = sorted(
        f for f in os.listdir(os.path.join(path, esc)) if f.endswith(".parquet")
    )[0]
    os.remove(os.path.join(path, esc, victim))
    assert table_state(spark, path)["status"] == "torn"


def test_merge_delete_empties_whole_partition(spark):
    """A change batch whose deletes empty an entire partition must
    actually remove it: dynamic overwrite skips empty outputs, so
    merge_upsert deletes the directory explicitly (and records the
    emptiness in the commit manifest)."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        table_state,
    )

    path = os.path.join(SCRATCH, "delete_all_fact")
    shutil.rmtree(path, ignore_errors=True)
    base = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 30)], "p int, k string, v long"
    )
    write_partitioned(base, path, ["p"])
    changes = spark.createDataFrame(
        [(1, "a", 0, True), (1, "b", 0, True)],
        "p int, k string, v long, _del boolean",
    )
    merge_upsert(
        spark, path, changes, key_cols=["k"], partition_cols=["p"],
        delete_col="_del",
    )
    rows = {(r.p, r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {(2, "c", 30)}
    assert not os.path.exists(os.path.join(path, "p=1"))
    assert table_state(spark, path)["status"] == "clean"


@pytest.mark.slow
def test_vacuum_after_recovery_stays_clean(spark):
    """Vacuum must never manufacture a false-torn: a RESOLVED
    unfinished intent is droppable (dropping it removes the need for
    its resolver — droppability is a prefix, so the pair leaves
    together), while a genuinely UNRESOLVED intent is always
    retained. table_state stays correct across both."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        table_state,
        vacuum_commits,
    )

    path = os.path.join(SCRATCH, "vacuum_recovery_fact")
    shutil.rmtree(path, ignore_errors=True)
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "p int, k string, v long"
    )
    write_partitioned(base, path, ["p"])
    ch1 = spark.createDataFrame([(1, "a", 11)], "p int, k string, v long")
    merge_upsert(spark, path, ch1, key_cols=["k"], partition_cols=["p"])
    # crash: drop the commit marker of intent 0
    commits = os.path.join(path, "_commits")
    os.remove(os.path.join(commits, "000000.commit.json"))
    # recovery re-run (intent 1, committed, rewrites p=1)
    merge_upsert(spark, path, ch1, key_cols=["k"], partition_cols=["p"])
    assert table_state(spark, path)["status"] == "clean"
    # many later merges on the OTHER partition
    for v in range(21, 26):
        merge_upsert(
            spark,
            path,
            spark.createDataFrame([(2, "b", v)], "p int, k string, v long"),
            key_cols=["k"],
            partition_cols=["p"],
        )
    vacuum_commits(spark, path, keep_last=2)
    # the RESOLVED crash prefix is gone — manifests stay bounded even
    # for a table that crashed once early in its life
    names = sorted(os.listdir(commits))
    assert "000000.intent.json" not in names
    assert table_state(spark, path)["status"] == "clean"

    # a genuinely UNRESOLVED intent survives any vacuum: crash the
    # newest merge and delete nothing else
    latest_commit = sorted(
        f for f in os.listdir(commits) if f.endswith(".commit.json")
    )[-1]
    os.remove(os.path.join(commits, latest_commit))
    assert table_state(spark, path)["status"] == "torn"
    vacuum_commits(spark, path, keep_last=1)
    names = sorted(os.listdir(commits))
    assert latest_commit.replace(".commit.", ".intent.") in names
    assert table_state(spark, path)["status"] == "torn"


def test_merge_boolean_partition_spelling(spark):
    """Partition keys must be spelled the way SPARK spells directory
    names (Cast-to-string, e.g. boolean true/false), not Python str():
    a delete emptying the p=true partition must actually remove it,
    and the manifest must inventory the REAL directory."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        table_state,
    )

    path = os.path.join(SCRATCH, "bool_part_fact")
    shutil.rmtree(path, ignore_errors=True)
    base = spark.createDataFrame(
        [(True, "a", 10), (True, "b", 20), (False, "c", 30)],
        "p boolean, k string, v long",
    )
    write_partitioned(base, path, ["p"])
    assert os.path.isdir(os.path.join(path, "p=true"))  # Spark spelling
    changes = spark.createDataFrame(
        [(True, "a", 0, True), (True, "b", 0, True)],
        "p boolean, k string, v long, _del boolean",
    )
    merge_upsert(
        spark, path, changes, key_cols=["k"], partition_cols=["p"],
        delete_col="_del",
    )
    rows = {(r.p, r.k, r.v) for r in spark.read.parquet(path).collect()}
    # partition-type inference reads boolean dirs back as strings —
    # the value spelling is what matters here
    assert rows == {("false", "c", 30)}
    assert not os.path.exists(os.path.join(path, "p=true"))
    state = table_state(spark, path)
    assert state["status"] == "clean"
    # corruption on the surviving boolean partition is detected
    pdir = os.path.join(path, "p=false")
    victim = sorted(f for f in os.listdir(pdir) if f.endswith(".parquet"))
    # p=false untouched by the merge → not in the commit inventory;
    # touch the inventoried partition instead by re-merging p=false
    changes2 = spark.createDataFrame(
        [(False, "c", 31)], "p boolean, k string, v long"
    )
    merge_upsert(spark, path, changes2, key_cols=["k"], partition_cols=["p"])
    victim = sorted(f for f in os.listdir(pdir) if f.endswith(".parquet"))[0]
    os.remove(os.path.join(pdir, victim))
    assert table_state(spark, path)["status"] == "torn"


def test_torn_commit_json_is_recoverable(spark):
    """A crash inside finish_commit leaves an empty commit.json; that
    must behave like a missing marker (torn, re-run recovers) — not
    crash every reader with a JSON decode error forever."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        table_state,
        vacuum_commits,
    )

    path = os.path.join(SCRATCH, "torn_json_fact")
    shutil.rmtree(path, ignore_errors=True)
    base = spark.createDataFrame([(1, "a", 10)], "p int, k string, v long")
    write_partitioned(base, path, ["p"])
    ch = spark.createDataFrame([(1, "a", 11)], "p int, k string, v long")
    merge_upsert(spark, path, ch, key_cols=["k"], partition_cols=["p"])
    commits = os.path.join(path, "_commits")
    marker = sorted(f for f in os.listdir(commits) if f.endswith(".commit.json"))[-1]
    open(os.path.join(commits, marker), "w").close()  # truncated by crash
    state = table_state(spark, path)
    assert state["status"] == "torn"
    # recovery: re-run the merge; vacuum can then drop the torn pair
    merge_upsert(spark, path, ch, key_cols=["k"], partition_cols=["p"])
    assert table_state(spark, path)["status"] == "clean"
    vacuum_commits(spark, path, keep_last=1)
    assert table_state(spark, path)["status"] == "clean"


@pytest.mark.slow
def test_compact_bucketed_preserves_probe_and_recovers(spark):
    """Bucketed-catalog compaction (the maintenance half of the daily
    signature-append loop): file count collapses to one per bucket,
    the catalog probe stays bucket-pruned and its flags identical, a
    second run is a no-op, and both crash-window recoveries restore
    the table."""
    from map_reduce_sf_crime_spark.operators import dedup
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        _bucket_spec,
        _table_file_count,
        compact_bucketed,
        recover_bucketed_compaction,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    bt, st = "cb_sig_buckets", "cb_sig_shingles"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (bt, f"{bt}_meta", st):
        for suffix in ("", "__compact", "__old"):
            spark.sql(f"drop table if exists {t}{suffix}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    base_pred = F.col("doc_id") % 5 != 4
    dedup.write_signature_catalog(docs.filter(base_pred), bt, st)
    # three daily appends, distinct slices
    for m in (0, 1, 2):
        dedup.append_signature_catalog(
            docs.filter((F.col("doc_id") % 5 == 4) & (F.col("doc_id") % 3 == m)),
            bt,
            st,
        )
    probe = lambda: {
        tuple(r)
        for r in dedup.incremental_lsh_flags_cataloged(
            spark, docs.filter(~base_pred), bt, st, threshold=0.8
        ).collect()
    }
    before_flags = probe()
    n_buckets, _, _, loc = _bucket_spec(spark, bt)
    files_before = _table_file_count(spark, loc)
    assert files_before > n_buckets  # the appends really fragmented it
    removed = compact_bucketed(spark, bt)
    assert removed > 0
    assert compact_bucketed(spark, st) > 0
    _, _, _, loc2 = _bucket_spec(spark, bt)
    assert _table_file_count(spark, loc2) == n_buckets
    # identical flags through the compacted catalog, still bucket-pruned
    after_df = dedup.incremental_lsh_flags_cataloged(
        spark, docs.filter(~base_pred), bt, st, threshold=0.8
    )
    assert {tuple(r) for r in after_df.collect()} == before_flags
    plan = after_df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if bt in ln]
    assert "SelectedBucketsCount" in "\n".join(scan_lines), scan_lines
    # second run: already compacted → no-op
    assert compact_bucketed(spark, bt) == 0
    # recovery: intact table just clears strays
    assert recover_bucketed_compaction(spark, bt) == "intact"
    # crash between the renames, rewrite finished → promote it
    spark.table(bt).write.bucketBy(n_buckets, "key").sortBy("key").format(
        "parquet"
    ).mode("overwrite").saveAsTable(f"{bt}__compact")
    spark.sql(f"alter table {bt} rename to {bt}__old")
    assert recover_bucketed_compaction(spark, bt) == "recovered_compacted"
    assert probe() == before_flags
    # crash before the rewrite finished → restore the original
    spark.sql(f"alter table {bt} rename to {bt}__old")
    assert recover_bucketed_compaction(spark, bt) == "recovered_original"
    assert probe() == before_flags
    # crash DURING a tmp write leaves an ORPHANED location (directory,
    # no table) — the next compaction must clear it, not wedge on
    # LOCATION_ALREADY_EXISTS
    wh2 = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    orphan_dir = os.path.join(wh2, f"{bt}__compact")
    os.makedirs(orphan_dir, exist_ok=True)
    with open(os.path.join(orphan_dir, "part-junk.parquet"), "wb") as fh:
        fh.write(b"torn")
    # fragment the table again so compaction actually runs
    dedup.append_signature_catalog(
        docs.filter(F.col("doc_id") % 5 == 4), bt, st
    )
    assert compact_bucketed(spark, bt) > 0
    assert not os.path.exists(os.path.join(orphan_dir, "part-junk.parquet"))
    for t in (bt, f"{bt}_meta", st):
        spark.sql(f"drop table if exists {t}")



@pytest.mark.parametrize("compact", ["compact_term_stats"])
def test_ledger_compaction_failure_keeps_ledger(spark, monkeypatch, compact):
    """A ledger compaction whose rewrite job FAILS must leave the
    ledger serving its pre-compaction totals: the netted rows go to
    ``{table}__compact`` and only a finished rewrite is swapped in, so
    a failure never touches the table being read (an in-place
    ``saveAsTable`` overwrite drops the table when its job fails), and
    recovery finds the ledger intact."""
    from map_reduce_sf_crime_spark.operators import termstats
    from map_reduce_sf_crime_spark.sources import lakehouse

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "lang"
    )
    tbl = f"crash_{compact}"
    for suffix in ("", "__compact", "__old"):
        lakehouse.drop_table_and_orphan(spark, f"{tbl}{suffix}")
    changes = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("_change_type", F.lit("delete"))
        .localCheckpoint()
    )
    termstats.write_term_stats(docs, tbl)
    termstats.apply_changes_to_term_stats(spark, changes, tbl, gen=1)
    rows = lambda: sorted(  # noqa: E731
        tuple(r) for r in termstats.token_doc_freq_cataloged(spark, tbl, 50).collect()
    )
    want = rows()
    assert want

    real_write = lakehouse.write_bucketed

    def failing_write(df, *args, **kwargs):
        boom = F.raise_error(F.lit("injected rewrite failure")).cast("int")
        real_write(df.withColumn("_boom", boom), *args, **kwargs)

    monkeypatch.setattr(lakehouse, "write_bucketed", failing_write)
    with pytest.raises(Exception, match="injected rewrite failure"):
        getattr(termstats, compact)(spark, tbl)
    monkeypatch.undo()

    assert spark.catalog.tableExists(tbl)
    assert rows() == want
    assert lakehouse.recover_bucketed_compaction(spark, tbl) == "intact"
    assert rows() == want
    lakehouse.drop_table_and_orphan(spark, tbl)

def test_concurrent_writer_lease(spark):
    """Two interleaved writers: while writer A holds the table lease,
    writer B's merge must FAIL LOUDLY (ConcurrentWriterError) before
    writing anything — round 4's protocol let both writers 'recover'
    each other's unfinished intents. A lease whose mtime has aged
    past the TTL belongs to a dead writer: broken automatically, the
    merge proceeds. A lease broken out from under a live writer is
    detected at release time and raises."""
    import time

    import pytest

    from map_reduce_sf_crime_spark.sources.lakehouse import (
        LEASE_TTL_SEC,
        ConcurrentWriterError,
        acquire_lease,
        break_lease,
        merge_upsert,
        release_lease,
        table_state,
    )

    path = os.path.join(SCRATCH, "lease_fact")
    shutil.rmtree(path, ignore_errors=True)
    daily = (
        incidents(spark, SF_SMOKE)
        .groupBy(F.month("d").alias("month"), "d", "category", "district")
        .agg(F.count(F.lit(1)).alias("crimes"))
    )
    write_partitioned(daily, path, ["month"])
    changes = (
        read_partitioned(spark, path)
        .filter(F.col("month") == 1)
        .withColumn("crimes", F.col("crimes") + 1000)
        .localCheckpoint()
    )
    key_cols, part_cols = ["d", "category", "district"], ["month"]

    # writer A mid-merge (holds the lease) -> writer B refused loudly
    token = acquire_lease(spark, path)
    with pytest.raises(ConcurrentWriterError, match="live writer"):
        merge_upsert(
            spark, path, changes, key_cols=key_cols, partition_cols=part_cols
        )
    # the refused merge left no manifest and no data change
    assert table_state(spark, path)["status"] == "clean"
    commits = os.path.join(path, "_commits")
    assert not any(
        f.endswith(".intent.json") for f in os.listdir(commits)
    )
    release_lease(spark, path, token)

    # lease free -> the same merge proceeds and releases afterwards
    merge_upsert(
        spark, path, changes, key_cols=key_cols, partition_cols=part_cols
    )
    assert table_state(spark, path)["status"] == "clean"
    lease_file = os.path.join(commits, "_lease.json")
    assert not os.path.exists(lease_file)

    # stale lease (dead writer): aged past TTL -> broken, merge runs
    acquire_lease(spark, path)
    old = time.time() - 2 * LEASE_TTL_SEC
    os.utime(lease_file, (old, old))
    merge_upsert(
        spark, path, changes, key_cols=key_cols, partition_cols=part_cols
    )
    assert table_state(spark, path)["status"] == "clean"
    assert not os.path.exists(lease_file)

    # a lease broken out from under a live writer raises at release
    t2 = acquire_lease(spark, path)
    break_lease(spark, path)
    with pytest.raises(ConcurrentWriterError, match="broken while held"):
        release_lease(spark, path, t2)


def test_time_travel_read_as_of(spark):
    """Time travel (read_as_of + archive=True): after later merges
    rewrite a partition, the archived pre-images reconstruct the
    table exactly as each commit left it; a snapshot whose files were
    replaced by a NON-archiving merge raises with the missing paths
    (opt-in retention, not magic); vacuum drops archives with their
    manifests, after which the snapshot id itself is unknown."""
    import pytest

    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        read_as_of,
        table_state,
        vacuum_commits,
    )

    path = os.path.join(SCRATCH, "tt_fact")
    shutil.rmtree(path, ignore_errors=True)
    daily = (
        incidents(spark, SF_SMOKE)
        .groupBy(F.month("d").alias("month"), "d", "category", "district")
        .agg(F.count(F.lit(1)).alias("crimes"))
    )
    write_partitioned(daily, path, ["month"])
    key_cols, part_cols = ["d", "category", "district"], ["month"]

    def snap(df):
        return {
            (r.month, r.d, r.category, r.district): r.crimes
            for r in df.collect()
        }

    base = snap(read_partitioned(spark, path))

    def batch(months, delta):
        return (
            read_partitioned(spark, path)
            .filter(F.col("month").isin(months))
            .withColumn("crimes", F.col("crimes") + delta)
            .localCheckpoint()
        )

    # commit 0 (archived): months 1+2 get +1000
    merge_upsert(
        spark, path, batch([1, 2], 1000), key_cols=key_cols,
        partition_cols=part_cols, archive=True,
    )
    want0 = snap(read_partitioned(spark, path))
    # commit 1 (archived): month 1 gets +7 — rewrites month=1's files
    merge_upsert(
        spark, path, batch([1], 7), key_cols=key_cols,
        partition_cols=part_cols, archive=True,
    )
    want1 = snap(read_partitioned(spark, path))
    assert want1 != want0 != base

    # snapshots reconstruct exactly: month=1 via commit 1's archive,
    # month=2 and untouched months live
    assert snap(read_as_of(spark, path, 0)) == want0
    assert snap(read_as_of(spark, path, 1)) == want1
    assert table_state(spark, path)["status"] == "clean"

    # unknown commit id refuses
    with pytest.raises(ValueError, match="unknown or never committed"):
        read_as_of(spark, path, 99)

    # commit 2 WITHOUT archive rewrites month=2 -> commit 0/1's view of
    # month=2 is unreconstructable and says so loudly
    merge_upsert(
        spark, path, batch([2], 1), key_cols=key_cols,
        partition_cols=part_cols, archive=False,
    )
    want2 = snap(read_partitioned(spark, path))
    assert snap(read_as_of(spark, path, 2)) == want2
    with pytest.raises(ValueError, match="overwritten without archive"):
        read_as_of(spark, path, 1)

    # vacuum drops old manifests AND their archives; the snapshot id
    # is gone rather than silently wrong
    dropped = vacuum_commits(spark, path, keep_last=1)
    assert dropped == 2
    commits = os.path.join(path, "_commits")
    assert not any(f.endswith(".archive") for f in os.listdir(commits))
    with pytest.raises(ValueError, match="unknown or never committed"):
        read_as_of(spark, path, 0)
    assert snap(read_as_of(spark, path, 2)) == want2


@pytest.mark.slow
def test_change_feed_read_changes(spark):
    """Change feed (read_changes): row-level diff between two
    committed snapshots in Delta-CDF vocabulary, pruned to the
    partitions touched in the commit range. Every classification —
    insert (within an existing partition AND a partition born in the
    range), delete (partial AND a partition emptied in the range),
    update pre/post pairs — plus: unchanged rows inside rewritten
    partitions are NOT emitted, untouched partitions are never read,
    and the composed multi-commit feed equals the brute-force
    snapshot diff."""
    import pytest

    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        read_as_of,
        read_changes,
    )

    path = os.path.join(SCRATCH, "cf_fact")
    shutil.rmtree(path, ignore_errors=True)
    daily = (
        incidents(spark, SF_SMOKE)
        .groupBy(F.month("d").alias("month"), "d", "category", "district")
        .agg(F.count(F.lit(1)).alias("crimes"))
    )
    write_partitioned(daily, path, ["month"])
    key_cols, part_cols = ["d", "category", "district"], ["month"]

    def snap(df):
        return {
            (r.month, r.d, r.category, r.district): r.crimes
            for r in df.collect()
        }

    def events(df):
        return {
            (r.month, r.d, r.category, r.district, r.crimes, r._change_type)
            for r in df.collect()
        }

    def rows_of(months):
        return read_partitioned(spark, path).filter(
            F.col("month").isin(months)
        )

    # c0: months 1+2 get +1000 (pure update)
    merge_upsert(
        spark, path,
        rows_of([1, 2]).withColumn("crimes", F.col("crimes") + 1000)
        .localCheckpoint(),
        key_cols=key_cols, partition_cols=part_cols, archive=True,
    )
    # c1: month 1 gets +7 AND two brand-new keys in month 1
    some_day = rows_of([1]).select("d").limit(1).collect()[0].d
    new_rows = spark.createDataFrame(
        [(1, some_day, "ZZZ_NEW_CAT", "ZZ_DISTRICT", 5),
         (1, some_day, "ZZZ_NEW_CAT", "YY_DISTRICT", 6)],
        "month int, d date, category string, district string, crimes bigint",
    )
    merge_upsert(
        spark, path,
        rows_of([1]).withColumn("crimes", F.col("crimes") + 7)
        .unionByName(new_rows).localCheckpoint(),
        key_cols=key_cols, partition_cols=part_cols, archive=True,
    )
    # feed c0→c1: updates (pre+post) + inserts in month 1, nothing
    # from month 2 (untouched in the range)
    got01 = events(read_changes(spark, path, 0, 1, key_cols))
    want01 = set()
    s0, s1 = snap(read_as_of(spark, path, 0)), snap(read_as_of(spark, path, 1))
    for k in s1:
        if k not in s0:
            want01.add(k + (s1[k], "insert"))
        elif s1[k] != s0[k]:
            want01.add(k + (s0[k], "update_preimage"))
            want01.add(k + (s1[k], "update_postimage"))
    for k in s0:
        if k not in s1:
            want01.add(k + (s0[k], "delete"))
    assert got01 == want01
    assert {e[-1] for e in got01} == {
        "insert", "update_preimage", "update_postimage"
    }
    assert all(e[0] == 1 for e in got01)  # month 2 untouched → silent
    # unchanged rows inside the rewritten partition are not emitted:
    # fewer events than 2× month-1 rows would imply... the +7 touched
    # every pre-existing month-1 row, so instead pin exact counts
    n_m1 = rows_of([1]).count()
    assert len(got01) == 2 * (n_m1 - 2) + 2

    # c2: a partition BORN in the range (month 99 did not exist)
    born = spark.createDataFrame(
        [(99, some_day, "SYNTH", "SYNTH_D", 1),
         (99, some_day, "SYNTH", "SYNTH_D2", 2)],
        "month int, d date, category string, district string, crimes bigint",
    )
    merge_upsert(
        spark, path, born, key_cols=key_cols, partition_cols=part_cols,
        archive=True,
    )
    got12 = events(read_changes(spark, path, 1, 2, key_cols))
    assert got12 == {
        (99, some_day, "SYNTH", "SYNTH_D", 1, "insert"),
        (99, some_day, "SYNTH", "SYNTH_D2", 2, "insert"),
    }

    # c3: the same partition EMPTIED (all its keys delete-flagged)
    merge_upsert(
        spark, path,
        rows_of([99]).withColumn("_del", F.lit(True)).localCheckpoint(),
        key_cols=key_cols, partition_cols=part_cols, delete_col="_del",
        archive=True,
    )
    got23 = events(read_changes(spark, path, 2, 3, key_cols))
    assert got23 == {
        (99, some_day, "SYNTH", "SYNTH_D", 1, "delete"),
        (99, some_day, "SYNTH", "SYNTH_D2", 2, "delete"),
    }

    # c4: partial delete inside a surviving partition (3 month-2 keys)
    dels = rows_of([2]).limit(3).withColumn("_del", F.lit(True)).localCheckpoint()
    del_keys = {(r.d, r.category, r.district) for r in dels.collect()}
    merge_upsert(
        spark, path, dels, key_cols=key_cols, partition_cols=part_cols,
        delete_col="_del", archive=True,
    )
    got34 = events(read_changes(spark, path, 3, 4, key_cols))
    assert {e[-1] for e in got34} == {"delete"}
    assert {(e[1], e[2], e[3]) for e in got34} == del_keys

    # composed multi-commit feed == brute-force snapshot diff
    s4 = snap(read_as_of(spark, path, 4))
    want04 = set()
    for k in s4:
        if k not in s0:
            want04.add(k + (s4[k], "insert"))
        elif s4[k] != s0[k]:
            want04.add(k + (s0[k], "update_preimage"))
            want04.add(k + (s4[k], "update_postimage"))
    for k in s0:
        if k not in s4:
            want04.add(k + (s0[k], "delete"))
    assert events(read_changes(spark, path, 0, 4, key_cols)) == want04

    # identity range → empty frame with the feed schema
    same = read_changes(spark, path, 2, 2, key_cols)
    assert same.count() == 0 and "_change_type" in same.columns
    # reversed range refuses
    with pytest.raises(ValueError, match="from_cid 3 > to_cid 1"):
        read_changes(spark, path, 3, 1, key_cols)


@pytest.mark.slow
def test_change_feed_drives_index_fold(spark):
    """The full incremental daily loop, end to end: a lakehouse MERGE
    on the embeddings table (updates + deletes + inserts, archived) →
    read_changes → apply_changes_to_ivf_index. The folded index
    answers probes EXACTLY like a same-quantizer rebuild from the
    post-merge table — the churn-sized path replaces the full
    reprocess with no quality cliff."""
    from map_reduce_sf_crime_spark.operators import similarity
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        read_changes,
    )

    path = os.path.join(SCRATCH, "cf_emb")
    idx_a = os.path.join(SCRATCH, "cf_emb_idx_a")
    idx_b = os.path.join(SCRATCH, "cf_emb_idx_b")
    for p in (path, idx_a, idx_b):
        shutil.rmtree(p, ignore_errors=True)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    write_partitioned(emb, path, ["label"])

    # commit 0: an identity rewrite of label=0 — a committed baseline
    # equal to the initial table
    merge_upsert(
        spark, path,
        read_partitioned(spark, path).filter(F.col("label") == 0)
        .localCheckpoint(),
        key_cols=["vec_id"], partition_cols=["label"], archive=True,
    )
    base = read_partitioned(spark, path).select("vec_id", "embedding")
    similarity.write_ivf_index(base, idx_a, n_centroids=8)
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in base.filter(F.col("vec_id") < 4).collect()
    ]

    # commit 1: updates in label 3 (reversed vectors), inserts into
    # label 4 (shifted ids), deletes in label 5
    cur = read_partitioned(spark, path)
    upd = cur.filter(F.col("label") == 3).withColumn(
        "embedding", F.reverse("embedding")
    ).withColumn("_del", F.lit(False))
    ins = cur.filter(F.col("label") == 4).withColumn(
        "vec_id", F.col("vec_id") + 100_000
    ).withColumn("_del", F.lit(False))
    dels = cur.filter(
        (F.col("label") == 5) & (F.col("vec_id") % 3 == 0)
    ).withColumn("_del", F.lit(True))
    merge_upsert(
        spark, path, upd.unionByName(ins).unionByName(dels).localCheckpoint(),
        key_cols=["vec_id"], partition_cols=["label"], delete_col="_del",
        archive=True,
    )

    feed = read_changes(spark, path, 0, 1, ["vec_id"])
    # the feed is churn-sized and carries every class of event
    assert {r._change_type for r in feed.select("_change_type").distinct().collect()} == {
        "insert", "delete", "update_preimage", "update_postimage"
    }
    similarity.apply_changes_to_ivf_index(
        spark, idx_a, feed.select("vec_id", "embedding", "_change_type"),
        append_id=1,
    )
    cq = similarity._stored_centroids(spark, idx_a)
    post = read_partitioned(spark, path).select("vec_id", "embedding")
    similarity.write_ivf_index(post, idx_b, centroids=cq)
    got = similarity.ivf_topk_indexed(
        spark, idx_a, queries, k=5, exclude_query_ids=False
    )
    want = similarity.ivf_topk_indexed(
        spark, idx_b, queries, k=5, exclude_query_ids=False
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    for p in (path, idx_a, idx_b):
        shutil.rmtree(p, ignore_errors=True)


def test_partition_scoped_writers_disjoint_commit_overlapping_raise(spark):
    """Round 6 (VERDICT r5 #4): the optimistic partition-scoped writer
    protocol. While writer A's partition-scoped intent on month=1 is
    in flight (registered, not committed), a disjoint partition-scoped
    merge (month=2) COMMITS, an overlapping one (month=1) raises, a
    table-scoped merge over month=1 raises, and a table-scoped merge
    over month=2 proceeds. Completing A leaves the table clean with
    both writers' rows applied."""
    import pytest

    from map_reduce_sf_crime_spark.sources.lakehouse import (
        ConcurrentWriterError,
        _merge_upsert_locked,
        _partition_subpath,
        _spelled_keys,
        acquire_lease,
        begin_commit,
        finish_commit,
        merge_upsert,
        release_lease,
        table_state,
    )

    path = os.path.join(SCRATCH, "pscope_fact")
    shutil.rmtree(path, ignore_errors=True)
    daily = (
        incidents(spark, SF_SMOKE)
        .groupBy(F.month("d").alias("month"), "d", "category", "district")
        .agg(F.count(F.lit(1)).alias("crimes"))
    )
    write_partitioned(daily, path, ["month"])
    key_cols, part_cols = ["d", "category", "district"], ["month"]

    def changes_for(month, bump):
        return (
            read_partitioned(spark, path)
            .filter(F.col("month") == month)
            .withColumn("crimes", F.col("crimes") + bump)
            .localCheckpoint()
        )

    ch1 = changes_for(1, 1000)
    ch2 = changes_for(2, 2000)

    # --- writer A: register a partition-scoped intent on month=1 and
    # stop (mid-flight), exactly what merge_upsert(scope="partition")
    # does before its snapshot read
    keys_a = _spelled_keys(ch1.select("month"), part_cols)
    token = acquire_lease(spark, path)
    cid_a = begin_commit(
        spark, path, part_cols, keys_a, extra={"scope": "partition"}
    )
    release_lease(spark, path, token)

    # disjoint partition-scoped merge commits concurrently
    merge_upsert(
        spark, path, ch2, key_cols=key_cols, partition_cols=part_cols,
        scope="partition",
    )
    got2 = read_partitioned(spark, path).filter(F.col("month") == 2)
    assert got2.agg(F.min("crimes")).first()[0] > 2000

    # overlapping partition-scoped merge refused at registration,
    # claim withdrawn (no extra intent left behind)
    commits = os.path.join(path, "_commits")
    n_intents = sum(f.endswith(".intent.json") for f in os.listdir(commits))
    with pytest.raises(ConcurrentWriterError, match="claimed by in-flight"):
        merge_upsert(
            spark, path, changes_for(1, 9), key_cols=key_cols,
            partition_cols=part_cols, scope="partition",
        )
    assert (
        sum(f.endswith(".intent.json") for f in os.listdir(commits))
        == n_intents
    )

    # table-scoped merge over the claimed partition also refuses...
    with pytest.raises(ConcurrentWriterError, match="in-flight partition"):
        merge_upsert(
            spark, path, changes_for(1, 9), key_cols=key_cols,
            partition_cols=part_cols,
        )
    # ...but over a disjoint partition proceeds
    merge_upsert(
        spark, path, changes_for(3, 3000), key_cols=key_cols,
        partition_cols=part_cols,
    )

    # --- writer A completes: merge + overrun check + commit
    _merge_upsert_locked(
        spark, path, ch1, key_cols, part_cols, None, True, False,
        pre_registered=(cid_a, keys_a),
    )
    finish_commit(spark, path, cid_a)
    assert table_state(spark, path)["status"] == "clean"
    got1 = read_partitioned(spark, path).filter(F.col("month") == 1)
    assert got1.agg(F.min("crimes")).first()[0] > 1000
    _ = _partition_subpath  # imported for parity with production path


def test_partition_scoped_overrun_pre_write_withdraws_cleanly(spark):
    """A partition-scoped writer that overruns its intent TTL while
    another writer claims AND COMMITS the same partition — all before
    the overrunner's overwrite starts — raises at the PRE-WRITE check
    (round 7, ADVICE): it withdraws its intent without touching data,
    the other writer's commit survives untouched, and the table stays
    CLEAN (previously the overrunner first clobbered the partition and
    only the finish-side check caught it, leaving torn state)."""
    import time

    import pytest

    from map_reduce_sf_crime_spark.sources import lakehouse as lh

    path = os.path.join(SCRATCH, "pscope_overrun")
    shutil.rmtree(path, ignore_errors=True)
    daily = (
        incidents(spark, SF_SMOKE)
        .groupBy(F.month("d").alias("month"), "d", "category", "district")
        .agg(F.count(F.lit(1)).alias("crimes"))
    )
    write_partitioned(daily, path, ["month"])
    key_cols, part_cols = ["d", "category", "district"], ["month"]
    ch = (
        read_partitioned(spark, path)
        .filter(F.col("month") == 1)
        .withColumn("crimes", F.col("crimes") + 1000)
        .localCheckpoint()
    )

    real_locked = lh._merge_upsert_locked
    commits = os.path.join(path, "_commits")

    def slow_writer_locked(spark_, path_, *args, **kwargs):
        # writer A "stalls" after registration: its intent ages past
        # the TTL, writer B claims + rewrites the same partition, then
        # A wakes up and finishes its merge. One-shot: restore the
        # real function first so B's nested merge does not re-enter.
        lh._merge_upsert_locked = real_locked
        cid = kwargs["pre_registered"][0]
        intent = os.path.join(commits, f"{cid:06d}.intent.json")
        old = time.time() - 2 * lh.LEASE_TTL_SEC
        os.utime(intent, (old, old))
        lh.merge_upsert(
            spark_, path_, ch, key_cols=key_cols, partition_cols=part_cols,
            scope="partition",
        )
        return real_locked(spark_, path_, *args, **kwargs)

    lh._merge_upsert_locked = slow_writer_locked
    try:
        with pytest.raises(
            lh.ConcurrentWriterError, match="overran its TTL before writing"
        ):
            lh.merge_upsert(
                spark, path, ch, key_cols=key_cols, partition_cols=part_cols,
                scope="partition",
            )
    finally:
        lh._merge_upsert_locked = real_locked
    # A withdrew without writing: B's commit intact, table CLEAN, and
    # the merge applied exactly once (no double-+1000, no revert)
    assert lh.table_state(spark, path)["status"] == "clean"
    got = (
        read_partitioned(spark, path)
        .filter(F.col("month") == 1)
        .agg(F.sum("crimes").alias("s"))
        .collect()[0].s
    )
    want = ch.agg(F.sum("crimes").alias("s")).collect()[0].s
    assert got == want


def test_partition_scoped_overrun_post_write_leaves_torn(spark):
    """If the interleave lands AFTER the pre-write check (the other
    writer registers mid-overwrite), the finish-side overrun check
    still refuses to commit: the unfinished intent stays as torn
    evidence and re-running the merge recovers to clean — the
    round-6 coverage, retained for the residual window."""
    import time

    import pytest

    from map_reduce_sf_crime_spark.sources import lakehouse as lh

    path = os.path.join(SCRATCH, "pscope_overrun_post")
    shutil.rmtree(path, ignore_errors=True)
    daily = (
        incidents(spark, SF_SMOKE)
        .groupBy(F.month("d").alias("month"), "d", "category", "district")
        .agg(F.count(F.lit(1)).alias("crimes"))
    )
    write_partitioned(daily, path, ["month"])
    key_cols, part_cols = ["d", "category", "district"], ["month"]
    ch = (
        read_partitioned(spark, path)
        .filter(F.col("month") == 1)
        .withColumn("crimes", F.col("crimes") + 1000)
        .localCheckpoint()
    )

    real_locked = lh._merge_upsert_locked
    commits = os.path.join(path, "_commits")

    def racing_writer_locked(spark_, path_, *args, **kwargs):
        # age A's intent, then let B interleave exactly BETWEEN A's
        # pre-write check (which passes — B not yet registered) and
        # A's overwrite: B registers + commits inside the check hook
        lh._merge_upsert_locked = real_locked
        cid = kwargs["pre_registered"][0]
        intent = os.path.join(commits, f"{cid:06d}.intent.json")
        old = time.time() - 2 * lh.LEASE_TTL_SEC
        os.utime(intent, (old, old))
        orig_check = kwargs.get("pre_write_check")

        def late_interleave():
            if orig_check is not None:
                orig_check()  # passes: B hasn't registered yet
            lh.merge_upsert(
                spark_, path_, ch, key_cols=key_cols,
                partition_cols=part_cols, scope="partition",
            )

        kwargs["pre_write_check"] = late_interleave
        return real_locked(spark_, path_, *args, **kwargs)

    lh._merge_upsert_locked = racing_writer_locked
    try:
        with pytest.raises(
            lh.ConcurrentWriterError, match="mid-merge"
        ):
            lh.merge_upsert(
                spark, path, ch, key_cols=key_cols, partition_cols=part_cols,
                scope="partition",
            )
    finally:
        lh._merge_upsert_locked = real_locked
    # torn evidence stays; the documented re-run recovery cleans it
    assert lh.table_state(spark, path)["status"] == "torn"
    lh.merge_upsert(
        spark, path, ch, key_cols=key_cols, partition_cols=part_cols,
        scope="partition",
    )
    assert lh.table_state(spark, path)["status"] == "clean"


def test_manifest_false_writer_refuses_inflight_partition_intent(spark):
    """(round 7, ADVICE) ``merge_upsert(manifest=False)`` no longer
    skips the partition-intent conflict check: a lease-less table
    writer records no intent for partition-scoped writers to see, so
    it must itself refuse to interleave with an in-flight
    partition-scoped merge (mutual lost update, otherwise undetected
    on both sides)."""
    import pytest

    from map_reduce_sf_crime_spark.sources import lakehouse as lh

    path = os.path.join(SCRATCH, "pscope_vs_nomanifest")
    shutil.rmtree(path, ignore_errors=True)
    daily = (
        incidents(spark, SF_SMOKE)
        .groupBy(F.month("d").alias("month"), "d", "category", "district")
        .agg(F.count(F.lit(1)).alias("crimes"))
    )
    write_partitioned(daily, path, ["month"])
    ch = (
        read_partitioned(spark, path)
        .filter(F.col("month") == 1)
        .withColumn("crimes", F.col("crimes") + 7)
        .localCheckpoint()
    )
    # simulate an in-flight partition-scoped writer: register its
    # intent the way the protocol does (lease + begin_commit), no
    # commit yet
    keys = lh._spelled_keys(ch.select("month"), ["month"])
    token = lh.acquire_lease(spark, path)
    try:
        lh.begin_commit(
            spark, path, ["month"], keys,
            extra={"scope": "partition", "ttl_sec": lh.LEASE_TTL_SEC},
        )
    finally:
        lh.release_lease(spark, path, token)
    with pytest.raises(lh.ConcurrentWriterError, match="in-flight"):
        lh.merge_upsert(
            spark, path, ch,
            key_cols=["d", "category", "district"],
            partition_cols=["month"],
            manifest=False,
        )
    # a DISJOINT-partition manifest=False merge is still allowed
    ch2 = (
        read_partitioned(spark, path)
        .filter(F.col("month") == 2)
        .withColumn("crimes", F.col("crimes") + 7)
        .localCheckpoint()
    )
    if ch2.limit(1).count():
        lh.merge_upsert(
            spark, path, ch2,
            key_cols=["d", "category", "district"],
            partition_cols=["month"],
            manifest=False,
        )


def test_partition_scoped_refusal_before_write_withdraws_intent(spark):
    """A partition-scoped merge that refuses BEFORE touching data (the
    delete-every-row guard) withdraws its registered intent — the
    table stays clean, not torn."""
    import pytest

    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        table_state,
    )

    path = os.path.join(SCRATCH, "pscope_withdraw")
    shutil.rmtree(path, ignore_errors=True)
    daily = (
        incidents(spark, SF_SMOKE)
        .filter(F.month("d") == 1)
        .groupBy(F.month("d").alias("month"), "d", "category", "district")
        .agg(F.count(F.lit(1)).alias("crimes"))
    )
    write_partitioned(daily, path, ["month"])
    wipe = (
        read_partitioned(spark, path)
        .withColumn("_del", F.lit(True))
        .localCheckpoint()
    )
    with pytest.raises(ValueError, match="delete every row"):
        merge_upsert(
            spark, path, wipe, key_cols=["d", "category", "district"],
            partition_cols=["month"], delete_col="_del", scope="partition",
        )
    commits = os.path.join(path, "_commits")
    assert not any(f.endswith(".intent.json") for f in os.listdir(commits))
    assert table_state(spark, path)["status"] == "clean"


def test_compaction_refuses_over_inflight_partition_intent(spark):
    """Compaction (table-scoped) must not rewrite partitions claimed
    by an in-flight partition-scoped writer."""
    import pytest

    from map_reduce_sf_crime_spark.sources.lakehouse import (
        ConcurrentWriterError,
        _spelled_keys,
        acquire_lease,
        begin_commit,
        compact_partitioned,
        release_lease,
    )

    path = os.path.join(SCRATCH, "pscope_compact")
    shutil.rmtree(path, ignore_errors=True)
    daily = (
        incidents(spark, SF_SMOKE)
        .groupBy(F.month("d").alias("month"), "d", "category", "district")
        .agg(F.count(F.lit(1)).alias("crimes"))
    )
    # two appends -> >1 file per partition, so compaction has work
    write_partitioned(daily.repartition(2), path, ["month"])
    daily.write.mode("append").partitionBy("month").parquet(path)

    keys = _spelled_keys(
        daily.filter(F.col("month") == 1).select("month"), ["month"]
    )
    token = acquire_lease(spark, path)
    begin_commit(spark, path, ["month"], keys, extra={"scope": "partition"})
    release_lease(spark, path, token)
    with pytest.raises(ConcurrentWriterError, match="refusing to compact"):
        compact_partitioned(spark, path, ["month"])


def test_overwrite_takes_the_lease_and_keeps_a_held_log(spark, tmp_path):
    """An overwrite removes the commit log with the table root, so on a
    table with a log it takes the lease first: while another writer
    holds it the overwrite raises, and every intent, commit, archive
    and the lease survive. Once the lease is released the overwrite
    starts a new history."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        ConcurrentWriterError,
        acquire_lease,
        merge_upsert,
        read_as_of,
        release_lease,
    )

    path = str(tmp_path / "leased")
    log_dir = os.path.join(path, "_commits")
    base = spark.createDataFrame(
        [(i, i % 2, i * 10) for i in range(6)], "id long, p int, v long"
    )
    write_partitioned(base, path, ["p"])
    merge_upsert(
        spark, path,
        base.filter("id = 1").withColumn("v", F.lit(-1).cast("long")),
        key_cols=["id"], partition_cols=["p"], archive=True,
    )
    token = acquire_lease(spark, path)
    held = sorted(os.listdir(log_dir))
    assert {"000000.archive", "000000.commit.json", "000000.intent.json",
            "_lease.json"} <= set(held)

    with pytest.raises(ConcurrentWriterError, match="locked by a live writer"):
        write_partitioned(base, path, ["p"])
    assert sorted(os.listdir(log_dir)) == held
    assert read_as_of(spark, path, 0).filter("id = 1").first().v == -1
    release_lease(spark, path, token)  # still the holder's own lease

    write_partitioned(base, path, ["p"])
    assert [f for f in os.listdir(log_dir) if not f.endswith(".crc")] == [
        "_schema.json"
    ]
    with pytest.raises(ValueError):
        read_as_of(spark, path, 0)


def test_read_changes_diffs_map_columns(spark, tmp_path):
    """read_changes compares a map value column by its entries: a map
    changed in the range is an update, one whose entries were only
    reordered is not. A column that is still unorderable (a struct
    holding a map) raises naming the column, before any join."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        read_changes,
    )

    path = str(tmp_path / "mapped")
    base = spark.range(6).select(
        "id", (F.col("id") % 2).alias("p"),
        F.create_map(F.lit("k"), "id").alias("m"),
    )
    write_partitioned(base, path, ["p"])

    def merge(changes):
        merge_upsert(spark, path, changes, key_cols=["id"],
                     partition_cols=["p"], archive=True)

    for i in (1, 2):
        merge(base.filter(F.col("id") == i).withColumn(
            "m", F.create_map(F.lit("k"), F.lit(100 * i).cast("long"))
        ))
    got = sorted(
        (r.id, r._change_type, dict(r.m))
        for r in read_changes(spark, path, 0, 1, ["id"]).collect()
    )
    assert got == [
        (2, "update_postimage", {"k": 200}),
        (2, "update_preimage", {"k": 2}),
    ]

    path2 = str(tmp_path / "reordered")
    two = spark.range(4).select(
        "id", (F.col("id") % 2).alias("p"),
        F.create_map(F.lit("a"), "id", F.lit("b"), F.col("id") + 1).alias("m"),
    )
    write_partitioned(two, path2, ["p"])
    flipped = two.withColumn(
        "m", F.create_map(F.lit("b"), F.col("id") + 1, F.lit("a"), "id")
    )
    for cid in (0, 1):
        merge_upsert(spark, path2, flipped.filter(F.col("id") == cid),
                     key_cols=["id"], partition_cols=["p"], archive=True)
    stored = read_partitioned(spark, path2).filter("id = 1").select(F.map_keys("m"))
    assert stored.first()[0] == ["b", "a"]
    assert read_changes(spark, path2, 0, 1, ["id"]).count() == 0

    path3 = str(tmp_path / "nested")
    nested = base.select("id", "p", F.struct("m").alias("s"))
    write_partitioned(nested, path3, ["p"])
    for cid in (0, 1):
        merge_upsert(spark, path3, nested.filter(F.col("id") == cid),
                     key_cols=["id"], partition_cols=["p"], archive=True)
    with pytest.raises(ValueError, match="'s'"):
        read_changes(spark, path3, 0, 1, ["id"])
