"""Stream/batch parity and late-data watermark behavior."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from map_reduce_sf_crime_spark.sources.parquet import load_events
from map_reduce_sf_crime_spark.streaming import windows

from .conftest import SF_SMOKE


def test_tumbling_equals_batch_window(spark):
    streamed = windows.tumbling_counts(spark, SF_SMOKE, "1 hour")
    batch = (
        load_events(spark, SF_SMOKE)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_fused_window_counts_equals_concurrent(spark, tmp_path):
    """The r12 fused single-stream form of stream_window_counts must
    emit exactly the rows of the two-query concurrent form: manual
    window-instance assignment (epoch-floor arithmetic) is pinned to
    F.window's expansion for both the tumbling and the 1h/30min
    sliding family. The second input moves every fourth event to
    1969-12-31, where a truncating ``%`` rounds window starts UP
    instead of flooring them."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    shift = pa.scalar(
        datetime.datetime(2024, 1, 1) - datetime.datetime(1969, 12, 31),
        type=pa.duration("us"),
    )
    early = pc.equal(pc.bit_wise_and(t["event_id"], 3), 0)
    ts = pc.if_else(early, pc.subtract(t["ts"], shift), t["ts"])
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ts)
    assert pc.any(pc.less(ts, pa.scalar(0, type=ts.type))).as_py()
    pq.write_table(t, str(tmp_path / "events.parquet"))

    for sf_dir in (SF_SMOKE, str(tmp_path)):
        fused = windows.window_counts_fused(spark, sf_dir)
        conc = windows.window_counts_concurrent(spark, sf_dir)
        f = {tuple(r) for r in fused.collect()}
        c = {tuple(r) for r in conc.collect()}
        assert f == c, sf_dir


def test_session_count_conservation(spark):
    sess = windows.session_windows(spark, SF_SMOKE, "5 minutes")
    total = sess.agg(F.sum("n_events")).first()[0]
    assert total == load_events(spark, SF_SMOKE).count()


@pytest.mark.slow
def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode watermark semantics with real micro-batches.

    The operator-visible watermark is the one COMMITTED at the end of
    the previous batch (one-batch lag — empirically verified), so the
    sequence needs a buffer batch between the advancing event and the
    late row: A seeds the 00:00 window, B advances event-time to
    10:00, C commits that watermark, D's late row (00:30) arrives
    with operator watermark 09:50 ⇒ dropped, and the finalized 00:00
    window counts only A's rows."""
    import time
    import uuid

    import pandas as pd

    def write(name, stamps):
        pdf = pd.DataFrame(
            {"ts": pd.to_datetime(stamps).astype("datetime64[us]"),
             "user_id": range(len(stamps))}
        )
        pdf.to_parquet(str(tmp_path / name))

    batches = [
        ("a.parquet", ["2024-01-01 00:15:00", "2024-01-01 00:45:00"]),
        ("b.parquet", ["2024-01-01 10:00:00"]),
        ("c.parquet", ["2024-01-01 10:05:00"]),
        ("d.parquet", ["2024-01-01 00:30:00"]),  # late by >9 hours
    ]
    for name, stamps in batches:
        write(name, stamps)
        time.sleep(1.1)  # distinct mtimes → deterministic batch order

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        dropped = sum(
            p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            if p["stateOperators"]
        )
    finally:
        q.stop()
    assert dropped == 1  # the engine itself reports the late-row drop
    rows = {r["window"].start.strftime("%H:%M"): r["n"]
            for r in spark.table(name).collect()}
    # 00:00 finalized with exactly A's two rows; open windows withheld
    assert rows == {"00:00": 2}


def test_foreachbatch_materialization_merges_partitions(spark, tmp_path):
    """Continuous materialization equals the batch aggregate: events
    streamed in 3 micro-batches (days overlap across batches, so the
    merge path executes) produce the same day-partitioned counts as a
    one-shot groupBy."""
    import pandas as pd

    from map_reduce_sf_crime_spark.streaming.materialize import run_materialization

    src = tmp_path / "src"
    out = str(tmp_path / "agg")
    src.mkdir()
    stamps = {
        "a.parquet": ["2024-01-01 01:00:00", "2024-01-01 02:00:00",
                      "2024-01-02 01:00:00"],
        "b.parquet": ["2024-01-01 03:00:00", "2024-01-03 01:00:00"],
        "c.parquet": ["2024-01-02 05:00:00", "2024-01-03 09:00:00",
                      "2024-01-03 10:00:00"],
    }
    rows = []
    for name, ts in stamps.items():
        pd.DataFrame(
            {"ts": pd.to_datetime(ts).astype("datetime64[us]"),
             "event_type": ["click"] * len(ts)}
        ).to_parquet(str(src / name))
        rows += ts

    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_materialization(stream, spark, out)

    got = {
        (str(r.day), r.event_type, r.n)
        for r in spark.read.parquet(out).collect()
    }
    import collections
    per_day = collections.Counter(t[:10] for t in rows)
    want = {(d, "click", n) for d, n in per_day.items()}
    assert got == want


def test_materialization_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crashed micro-batch replays
    with the SAME batch_id. The staged-delta sink must converge —
    applying a batch twice yields exactly the single-apply counts
    (the old read-merge-overwrite form would double-count), and a
    simulated torn serving write self-heals on the replay."""
    import shutil

    from pyspark.sql import functions as F

    from map_reduce_sf_crime_spark.streaming.materialize import merge_daily_counts

    out = str(tmp_path / "agg")
    fn = merge_daily_counts(spark, out)

    def batch(rows):
        return spark.createDataFrame(rows, "ts string, event_type string").select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type"
        )

    def snapshot():
        return {
            (str(r.day), r.event_type, r.n)
            for r in spark.read.parquet(out).collect()
        }

    b0 = batch(
        [
            ("2024-01-01 01:00:00", "click"),
            ("2024-01-01 02:00:00", "view"),
            ("2024-01-02 01:00:00", "click"),
        ]
    )
    fn(b0, 0)
    first = snapshot()
    fn(b0, 0)  # replay of batch 0
    assert snapshot() == first

    # overlapping second batch, replayed too
    b1 = batch([("2024-01-02 02:00:00", "click"), ("2024-01-03 01:00:00", "view")])
    fn(b1, 1)
    second = snapshot()
    fn(b1, 1)
    assert snapshot() == second
    assert second == {
        ("2024-01-01", "click", 1),
        ("2024-01-01", "view", 1),
        ("2024-01-02", "click", 2),
        ("2024-01-03", "view", 1),
    }

    # torn serving write: a day partition lost its files entirely —
    # replaying the last batch that touched it rebuilds from staging
    import os

    shutil.rmtree(os.path.join(out, "day=2024-01-02"))
    fn(b1, 1)
    assert snapshot() == second


@pytest.mark.slow
def test_staged_delta_folding_and_vacuum(spark, tmp_path):
    """Folding bounds staging growth: every fold_every batches the
    active deltas consolidate into one (day, -B) partition set, the
    rebuild reads consolidated + tail only, replaying the FOLD batch
    converges, NULL-day rows survive the rebuild, and vacuum removes
    only superseded partitions."""
    import os

    from pyspark.sql import functions as F

    from map_reduce_sf_crime_spark.streaming.materialize import (
        merge_daily_counts,
        vacuum_staged_deltas,
    )

    out = str(tmp_path / "agg")
    fn = merge_daily_counts(spark, out, fold_every=4)

    def batch(rows):
        return spark.createDataFrame(rows, "ts string, event_type string").select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type"
        )

    def snapshot():
        return {
            (str(r.day), r.event_type, r.n)
            for r in spark.read.parquet(out).collect()
        }

    # batches 0..5, all touching one hot day (+ a NULL-ts row in b3)
    for b in range(6):
        rows = [("2024-02-01 0%d:00:00" % b, "click")]
        if b == 3:
            rows.append((None, "click"))
        fn(batch(rows), b)
    want = {("2024-02-01", "click", 6), ("None", "click", 1)}
    assert snapshot() == want

    # fold happened at batch 4: consolidated partitions exist
    deltas = out + "_deltas"
    hot = os.path.join(deltas, "day=2024-02-01")
    batches = sorted(os.listdir(hot))
    assert "batch=-4" in batches
    # replaying the fold batch converges (fold + stage + rebuild rerun)
    fn(batch([("2024-02-01 04:00:00", "click")]), 4)
    assert snapshot() == want

    # vacuum drops superseded partitions (positives < 4) but keeps
    # the consolidated set and the tail; results unchanged after the
    # next batch
    removed = vacuum_staged_deltas(spark, out)
    assert removed > 0
    left = sorted(os.listdir(hot))
    assert "batch=-4" in left and "batch=0" not in left
    fn(batch([("2024-02-01 06:00:00", "view")]), 6)
    assert snapshot() == {
        ("2024-02-01", "click", 6),
        ("2024-02-01", "view", 1),
        ("None", "click", 1),
    }


def test_active_view_partition_prunes(spark, tmp_path):
    """The staged-delta active view must reach the scan as PARTITION
    FILTERS (literal per-day predicate), so superseded (day, batch)
    directories are never read — the point of folding."""
    from pyspark.sql import functions as F

    from map_reduce_sf_crime_spark.streaming.materialize import (
        _active,
        merge_daily_counts,
    )

    out = str(tmp_path / "agg")
    fn = merge_daily_counts(spark, out, fold_every=4)

    def batch(rows):
        return spark.createDataFrame(rows, "ts string, event_type string").select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type"
        )

    for b in range(6):
        fn(batch([("2024-03-01 0%d:00:00" % b, "click")]), b)
    view = _active(spark, out + "_deltas")
    plan = view._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the scan reads only active files: batch=-4 (consolidated) and
    # the tail 4,5 — never the superseded 0..3
    files = {
        r[0].split("/batch=")[1].split("/")[0]
        for r in view.select(F.input_file_name()).distinct().collect()
    }
    assert files == {"-4", "4", "5"}


@pytest.mark.slow
def test_lakehouse_cdf_streaming_source(spark, tmp_path):
    """The lakehouse_cdf Python streaming data source: committed
    merges surface as micro-batches of Delta-CDF-vocabulary events,
    byte-equal to the batch read_changes over the same commit range;
    a checkpointed restart resumes from the stored offset and emits
    ONLY the commits that landed since. (The pure-Python manifest
    fold's parity with the JVM-side one is exactly what the
    read_changes comparison pins.)"""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        read_changes,
        write_partitioned,
    )
    from map_reduce_sf_crime_spark.streaming.cdf_source import (
        LakehouseChangeFeed,
    )

    path = str(tmp_path / "cdf_src_fact")
    base = spark.range(40).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("pt"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    write_partitioned(base, path, ["pt"])
    # c0: seed commit (the feed's base snapshot)
    merge_upsert(
        spark, path,
        base.filter(F.col("id") < 4).withColumn("v", F.col("v") + 1)
        .localCheckpoint(),
        key_cols=["id"], partition_cols=["pt"], archive=True,
    )
    # c1: updates in pt 0/1 + two inserts; c2: delete three keys
    merge_upsert(
        spark, path,
        base.filter(F.col("id").isin(0, 5)).withColumn("v", F.lit(999))
        .unionByName(
            spark.createDataFrame(
                [(100, 0, 7), (101, 1, 8)], "id long, pt int, v long"
            )
        ).localCheckpoint(),
        key_cols=["id"], partition_cols=["pt"], archive=True,
    )
    merge_upsert(
        spark, path,
        spark.createDataFrame(
            [(2, 2, 0, True), (100, 0, 0, True), (7, 3, 0, True)],
            "id long, pt int, v long, is_del boolean",
        ),
        key_cols=["id"], partition_cols=["pt"], delete_col="is_del",
        archive=True,
    )

    spark.dataSource.register(LakehouseChangeFeed)
    ckpt = str(tmp_path / "cdf_ckpt")

    def drain(qname):
        rows, cols = [], []

        def _sink(batch_df, _bid):
            cols[:] = batch_df.columns
            rows.extend(batch_df.collect())

        q = (
            spark.readStream.format("lakehouse_cdf")
            .option("path", path)
            .option("keyCols", "id")
            .option("startingCid", 0)
            .load()
            .writeStream.foreachBatch(_sink)
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return cols, rows

    def canon_rows(cols, rows):
        order = sorted(cols)
        return sorted(tuple(r[c] for c in order) for r in rows)

    def canon(df):
        cols = sorted(df.columns)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    cols1, rows1 = drain("cdf_out1")
    want1 = read_changes(spark, path, 0, 2, ["id"])
    assert sorted(cols1) == sorted(want1.columns)
    assert canon_rows(cols1, rows1) == canon(want1)
    # all four classifications genuinely exercised
    assert {r["_change_type"] for r in rows1} == {
        "insert", "delete", "update_preimage", "update_postimage"
    }

    # c3 lands after the first drain; the checkpointed restart must
    # emit exactly (2, 3] — not re-emit history
    merge_upsert(
        spark, path,
        base.filter(F.col("id") == 9).withColumn("v", F.lit(-1))
        .localCheckpoint(),
        key_cols=["id"], partition_cols=["pt"], archive=True,
    )
    cols2, rows2 = drain("cdf_out2")
    want2 = read_changes(spark, path, 2, 3, ["id"])
    assert rows2, "restart batch must be non-empty"
    assert canon_rows(cols2, rows2) == canon(want2)


@pytest.mark.slow
def test_cdf_stream_drives_index_fold(spark, tmp_path):
    """The full incremental-serving loop, END TO END and streaming:
    lakehouse merges → lakehouse_cdf micro-batches → foreachBatch
    folds each batch into a persisted IVF index
    (apply_changes_to_ivf_index, gen = epoch id) → probes equal a
    same-quantizer rebuild from the live table. This is the
    production wiring the pieces individually pin: checkpointed
    exactly-once offsets upstream, replay-idempotent folds
    downstream."""
    from map_reduce_sf_crime_spark.operators import similarity
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        read_partitioned,
        write_partitioned,
    )
    from map_reduce_sf_crime_spark.streaming.cdf_source import (
        LakehouseChangeFeed,
    )

    path = str(tmp_path / "emb_fact")
    ipath = str(tmp_path / "ivf_serving")
    emb0 = spark.range(300).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 4).cast("int").alias("pt"),
        F.array(
            *[F.sin(F.col("id") * F.lit(float(k + 1))) for k in range(8)]
        ).cast("array<float>").alias("embedding"),
    )
    write_partitioned(emb0, path, ["pt"])
    # c0: seed commit — the snapshot the serving index is built from
    merge_upsert(
        spark, path,
        emb0.filter(F.col("vec_id") < 2).localCheckpoint(),
        key_cols=["vec_id"], partition_cols=["pt"], archive=True,
    )
    similarity.write_ivf_index(
        read_partitioned(spark, path).select("vec_id", "embedding"),
        ipath, n_centroids=8,
    )
    # c1: delete a slice; c2: rewrite some vectors + insert new ids
    merge_upsert(
        spark, path,
        emb0.filter(F.col("vec_id") % 13 == 0)
        .withColumn("_del", F.lit(True)).localCheckpoint(),
        key_cols=["vec_id"], partition_cols=["pt"], delete_col="_del",
        archive=True,
    )
    merge_upsert(
        spark, path,
        emb0.filter((F.col("vec_id") % 13 == 1))
        .withColumn("embedding", F.reverse("embedding"))
        .unionByName(
            emb0.filter(F.col("vec_id") < 20).select(
                (F.col("vec_id") + 1000).alias("vec_id"), "pt", "embedding"
            )
        ).localCheckpoint(),
        key_cols=["vec_id"], partition_cols=["pt"], archive=True,
    )

    spark.dataSource.register(LakehouseChangeFeed)

    def fold(batch_df, epoch_id):
        if batch_df.take(1):
            similarity.apply_changes_to_ivf_index(
                spark, ipath, batch_df, append_id=int(epoch_id) + 1
            )

    q = (
        spark.readStream.format("lakehouse_cdf")
        .option("path", path)
        .option("keyCols", "vec_id")
        .option("startingCid", 0)
        .load()
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "fold_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb0.filter(F.col("vec_id").isin(5, 50, 200)).collect()
    ]
    got = sorted(
        map(tuple, similarity.ivf_topk_indexed(spark, ipath, queries, k=3).collect())
    )
    # oracle: a fresh index over the live table under the SAME quantizer
    cq = similarity._stored_centroids(spark, ipath)
    rpath = str(tmp_path / "ivf_rebuild")
    similarity.write_ivf_index(
        read_partitioned(spark, path).select("vec_id", "embedding"),
        rpath, centroids=cq,
    )
    want = sorted(
        map(tuple, similarity.ivf_topk_indexed(spark, rpath, queries, k=3).collect())
    )
    assert got == want
    # the folded index must also hide every deleted id at full depth
    dead = {r.vec_id for r in emb0.filter(F.col("vec_id") % 13 == 0).collect()}
    deep = similarity.ivf_topk_indexed(spark, ipath, queries, k=10_000, nprobe=8)
    assert not ({r.vec_id for r in deep.collect()} & dead)


@pytest.mark.slow
def test_cdf_source_admission_control(spark, tmp_path):
    """maxCommitsPerTrigger caps each micro-batch's commit span: a
    3-commit backlog with cap=1 drains as three checkpointed runs,
    each advancing exactly one commit and together reproducing the
    full-range read_changes — bounded batches for long backlogs
    instead of one giant diff."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        read_changes,
        write_partitioned,
    )
    from map_reduce_sf_crime_spark.streaming.cdf_source import (
        LakehouseChangeFeed,
    )

    path = str(tmp_path / "cap_fact")
    base = spark.range(30).select(
        F.col("id"),
        (F.col("id") % 3).cast("int").alias("pt"),
        F.lit(0).cast("long").alias("v"),
    )
    write_partitioned(base, path, ["pt"])
    for gen in range(4):  # c0 seed + c1..c3 backlog
        merge_upsert(
            spark, path,
            base.filter(F.col("id") % 7 == gen)
            .withColumn("v", F.lit(gen + 1)).localCheckpoint(),
            key_cols=["id"], partition_cols=["pt"], archive=True,
        )

    spark.dataSource.register(LakehouseChangeFeed)
    ckpt = str(tmp_path / "cap_ckpt")
    batches = []

    def drain_once():
        rows = []
        q = (
            spark.readStream.format("lakehouse_cdf")
            .option("path", path)
            .option("keyCols", "id")
            .option("startingCid", 0)
            .option("maxCommitsPerTrigger", 1)
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: rows.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return rows

    for _ in range(3):
        batches.append(drain_once())

    def canon(rows):
        return sorted(
            tuple(r[c] for c in sorted(["id", "pt", "v", "_change_type"]))
            for r in rows
        )

    # each capped run advanced exactly one commit
    for i, rows in enumerate(batches):
        want = read_changes(spark, path, i, i + 1, ["id"])
        assert canon(rows) == canon(want.collect()), f"batch {i}"
    # and the union is the whole backlog
    whole = read_changes(spark, path, 0, 3, ["id"])
    assert canon([r for b in batches for r in b]) == canon(whole.collect())


def test_cdf_capped_offset_skips_torn_commit_ids(spark, tmp_path):
    """Commit ids can have gaps: a torn intent (crash before
    finish_commit) whose recovery re-ran lands as the NEXT id. The
    admission cap must pick batch endpoints by walking the COMMITTED
    id list — id arithmetic would land an offset on the torn id and
    diff against a half-overwritten state the batch reader refuses."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        begin_commit,
        merge_upsert,
        write_partitioned,
    )
    from map_reduce_sf_crime_spark.streaming.cdf_source import (
        LakehouseChangeFeed,
        _CDFStreamReader,
    )

    path = str(tmp_path / "torn_fact")
    base = spark.range(20).select(
        F.col("id"),
        (F.col("id") % 2).cast("int").alias("pt"),
        F.lit(0).cast("long").alias("v"),
    )
    write_partitioned(base, path, ["pt"])
    churn = base.filter(F.col("id") < 3).withColumn("v", F.lit(1))
    merge_upsert(spark, path, churn.localCheckpoint(),
                 key_cols=["id"], partition_cols=["pt"], archive=True)  # c0
    # torn intent c1: begin without finish (simulated crash)
    begin_commit(spark, path, ["pt"], [("0",), ("1",)])
    # recovery re-run commits as c2
    merge_upsert(spark, path,
                 churn.withColumn("v", F.lit(2)).localCheckpoint(),
                 key_cols=["id"], partition_cols=["pt"], archive=True)

    schema = LakehouseChangeFeed({"path": path, "keycols": "id"}).schema()
    r = _CDFStreamReader(path, ["id"], schema, starting_cid=0, max_commits=1)
    # one-committed-id step from 0 must be 2 (skipping torn id 1)
    assert r.latestOffset() == {"cid": 2}
    r.commit({"cid": 2})
    assert r.latestOffset() == {"cid": 2}  # nothing further


_DAYS = "make_interval(0, 0, 0, {k})"


@pytest.mark.parametrize(
    "ptype,value",
    [
        pytest.param(
            "date", "timestamp'2024-01-01 06:30:00' + " + _DAYS, id="date"
        ),
        pytest.param(
            "timestamp",
            "timestamp'2024-01-01 06:30:00' + " + _DAYS,
            id="timestamp",
        ),
        # two fractional digits: past Spark's partition inference
        # pattern, which types the column as string
        pytest.param(
            "timestamp",
            "timestamp'2024-01-01 06:30:00.25' + " + _DAYS,
            id="timestamp_frac2",
        ),
        pytest.param(
            "timestamp",
            "timestamp'1969-12-31 23:59:59.5' - " + _DAYS,
            id="timestamp_pre_epoch",
        ),
        # inference types it double
        pytest.param("decimal(10,2)", "12.34 + {k}", id="decimal"),
    ],
)
def test_cdf_types_date_partitions_like_read_changes(
    spark, tmp_path, ptype, value
):
    """A partition column reads back with the type it was written with
    in read_partitioned, read_as_of, read_changes and the lakehouse_cdf
    schema, and the stream's rows are read_changes' rows. ``value`` is
    the partition value of row ``id``, with ``k = id % 3``."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        read_as_of,
        read_changes,
        read_partitioned,
        write_partitioned,
    )
    from map_reduce_sf_crime_spark.streaming.cdf_source import (
        LakehouseChangeFeed,
        _CDFStreamReader,
    )

    path = str(tmp_path / "fact")
    base = spark.range(6).select(
        F.col("id"),
        (F.col("id") * 10).alias("v"),
        F.expr(value.format(k="cast(id % 3 as int)")).cast(ptype).alias("d"),
    )
    write_partitioned(base, path, ["d"])
    merge_upsert(spark, path, base.filter("id < 2").localCheckpoint(),
                 key_cols=["id"], partition_cols=["d"], archive=True)  # c0
    merge_upsert(spark, path,
                 base.filter("id % 2 = 0").withColumn("v", F.lit(-1)).localCheckpoint(),
                 key_cols=["id"], partition_cols=["d"], archive=True)  # c1

    want = read_changes(spark, path, 0, 1, ["id"])
    schema = LakehouseChangeFeed({"path": path, "keyCols": "id"}).schema()
    for got in (read_partitioned(spark, path), read_as_of(spark, path, 0), want):
        assert got.schema["d"].dataType.simpleString() == ptype
    assert schema["d"].dataType.simpleString() == ptype
    assert schema.simpleString() == want.schema.simpleString()
    r = _CDFStreamReader(path, ["id"], schema, starting_cid=0)
    got = [row for p in r.partitions({"cid": 0}, {"cid": 1}) for row in r.read(p)]
    assert len(got) == 6  # ids 0, 2, 4: pre- and post-image each
    # through Spark's Python → internal conversion, as the stream's rows go
    assert sorted(map(tuple, spark.createDataFrame(got, schema).collect())) == (
        sorted(map(tuple, want.collect()))
    )
    assert sorted(map(tuple, read_as_of(spark, path, 1).collect())) == sorted(
        map(tuple, read_partitioned(spark, path).collect())
    )


def test_unrecorded_table_reads_by_inference_and_feed_refuses(spark, tmp_path):
    """A table written by a plain ``df.write.partitionBy`` has no
    recorded schema: merged, it reads in every batch reader with the
    types Spark infers from its directories, and lakehouse_cdf refuses
    it with a ValueError naming its path."""
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        read_as_of,
        read_changes,
        read_partitioned,
    )
    from map_reduce_sf_crime_spark.streaming.cdf_source import (
        LakehouseChangeFeed,
    )

    path = str(tmp_path / "plain_fact")
    base = spark.range(4).select(
        F.col("id"),
        F.lit(1).alias("v"),
        F.expr("timestamp'2024-01-01 06:30:00.25' + (id % 2) * interval 1 day")
        .alias("d"),
        F.expr("cast(12.34 + id % 2 as decimal(10,2))").alias("p"),
    )
    base.write.partitionBy("d", "p").parquet(path)
    inferred = spark.read.parquet(path).schema.simpleString()
    assert "d:string" in inferred and "p:double" in inferred
    row0 = read_partitioned(spark, path).filter("id = 0").localCheckpoint()
    for v in (2, 3):  # c0, c1
        merge_upsert(spark, path, row0.withColumn("v", F.lit(v)),
                     key_cols=["id"], partition_cols=["d", "p"], archive=True)
    feed = read_changes(spark, path, 0, 1, ["id"])
    for df in (read_partitioned(spark, path), read_as_of(spark, path, 1)):
        assert df.schema.simpleString() == inferred
        assert sorted(r["v"] for r in df.collect()) == [1, 1, 1, 3]
    assert feed.drop("_change_type").schema.simpleString() == inferred
    assert sorted(r["v"] for r in feed.collect()) == [2, 3]
    with pytest.raises(ValueError, match="no recorded schema") as ei:
        LakehouseChangeFeed({"path": path, "keyCols": "id"}).schema()
    assert path in str(ei.value)


@pytest.mark.slow
def test_streaming_postings_maintenance_serves_live_corpus(spark, tmp_path):
    """The reusable maintenance loop (streaming/index_maintenance):
    build the postings index from the seed snapshot, stream the
    change feed through stream_fold into apply_changes_to_postings_index
    (availableNow drain),
    and the indexed BM25 must equal live BM25 over the FINAL table —
    inserts searchable, deleted docs gone."""
    from map_reduce_sf_crime_spark.operators import retrieval
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        read_partitioned,
        write_partitioned,
    )
    from map_reduce_sf_crime_spark.streaming.index_maintenance import (
        stream_fold,
    )

    path = str(tmp_path / "docs_fact")
    words = ["spark", "merge", "window", "table", "dup", "scan"]
    docs0 = spark.range(120).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("int").alias("pt"),
        F.concat_ws(
            " ",
            F.lit("spark"),
            F.element_at(F.array(*[F.lit(w) for w in words]), (F.col("id") % 6 + 1).cast("int")),
            F.element_at(F.array(*[F.lit(w) for w in words]), (F.col("id") % 5 + 1).cast("int")),
        ).alias("text"),
    )
    write_partitioned(docs0, path, ["pt"])
    # seed commit so the feed has a committed starting snapshot
    merge_upsert(
        spark, path, docs0.filter(F.col("doc_id") < 2).localCheckpoint(),
        key_cols=["doc_id"], partition_cols=["pt"], archive=True,
    )
    retrieval.write_postings_index(
        read_partitioned(spark, path).select("doc_id", "text"),
        "stream_postings",
    )
    # c1: delete every 11th doc; c2: rewrite some + insert new ids
    merge_upsert(
        spark, path,
        docs0.filter(F.col("doc_id") % 11 == 0)
        .withColumn("_del", F.lit(True)).localCheckpoint(),
        key_cols=["doc_id"], partition_cols=["pt"], delete_col="_del",
        archive=True,
    )
    merge_upsert(
        spark, path,
        docs0.filter(F.col("doc_id") % 11 == 1)
        .withColumn("text", F.concat_ws(" ", "text", F.lit("zebra")))
        .unionByName(
            docs0.filter(F.col("doc_id") < 15).select(
                (F.col("doc_id") + 5000).alias("doc_id"), "pt",
                F.lit("zebra window spark").alias("text"),
            )
        ).localCheckpoint(),
        key_cols=["doc_id"], partition_cols=["pt"], archive=True,
    )
    q = stream_fold(
        spark, path, ["doc_id"], str(tmp_path / "ckpt"),
        lambda s, df, gen: retrieval.apply_changes_to_postings_index(
            s, df, "stream_postings", gen
        ),
        starting_cid=0,
    )
    q.awaitTermination(300)
    q.stop()
    queries = {0: "spark window", 1: "zebra dup"}
    live = retrieval.bm25_topk(
        read_partitioned(spark, path).select("doc_id", "text"),
        queries, k=20,
    )
    served = retrieval.bm25_topk_indexed(
        spark, "stream_postings", queries, k=20
    )
    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert rows(served) == rows(live)
    # inserts searchable, deletes really gone
    got_ids = {r.doc_id for r in served.collect()}
    assert any(i >= 5000 for i in got_ids)
    assert not any(i % 11 == 0 and i < 1000 for i in got_ids)
