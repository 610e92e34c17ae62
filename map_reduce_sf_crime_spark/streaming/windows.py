"""Windowed streaming aggregations over the ``events`` table.

The reference is strictly batch (SURVEY §2.9); its weekly/daily
bucketing is the batch cousin of a tumbling window. Here the same
aggregations run as genuine Structured Streaming queries:
``readStream`` over the events parquet, watermark for late data,
tumbling / session windows, memory sink for the local harness.

Batch/stream parity: a tumbling-window count over a *complete, static*
input equals the batch ``groupBy(window(...))`` — that equivalence is
what lets the DuckDB oracle (``time_bucket``) verify a streaming
query's result exactly.

At scale the same code points at a Kafka source and a real sink; the
watermark bounds state, and the shuffle is keyed on (window,
event_type) — low cardinality, uniformly distributed.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.parquet import events_stream

    return events_stream(spark, sf_dir)


#: State-store partition count for streaming queries. The session's
#: ``spark.sql.shuffle.partitions`` (32, sized for batch shuffles) is
#: frozen into the checkpoint at stream start and becomes the number
#: of state stores maintained EVERY micro-batch — for these
#: low-cardinality keyed states (windows × event_type, user sessions)
#: 8 stores cut per-batch state overhead ~40% with identical results.
#: At production scale this is the knob sized to state volume /
#: throughput, deliberately decoupled from the batch shuffle width.
STREAM_STATE_PARTITIONS = 8


def _start_to_memory(agg: DataFrame, mode: str = "complete"):
    """Start (don't await) a memory-sink availableNow query; returns
    (StreamingQuery, table name). Lets independent streaming queries
    run CONCURRENTLY in one session — each pays its micro-batch
    startup in parallel instead of serially.

    Scopes ``shuffle.partitions`` down to STREAM_STATE_PARTITIONS
    around ``.start()`` (the only moment it is read for a streaming
    query) and restores the session value immediately after."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    spark = agg.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        q = (
            agg.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return q, name


def _run_to_memory(agg: DataFrame, mode: str = "complete") -> DataFrame:
    """Drive the streaming query to completion over the static input
    and return the materialized result (local-harness pattern).

    ``complete`` mode: with availableNow over a finite input, append
    mode would withhold every window the final watermark hasn't passed
    (the last hour of data) — complete emits the full aggregate state,
    which is what stream/batch parity needs."""
    q, name = _start_to_memory(agg, mode)
    q.awaitTermination()
    spark = agg.sparkSession
    return spark.table(name)


def _tumbling_agg(ev: DataFrame, width: str = "1 hour") -> DataFrame:
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def _window_select(out: DataFrame) -> DataFrame:
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
        "sum_value",
    )


def tumbling_counts(spark: SparkSession, sf_dir: str, width: str = "1 hour") -> DataFrame:
    """Tumbling-window count + sum(value) per event_type with a
    10-minute watermark."""
    ev = _events_stream(spark, sf_dir)
    return _window_select(_run_to_memory(_tumbling_agg(ev, width), "complete"))


def tumbling_counts_sql(width_minutes: int = 60) -> str:
    return f"""
    select strftime(time_bucket(interval '{width_minutes} minutes', ts),
                    '%Y-%m-%d %H:%M:%S') as win_start,
           event_type, count(*) as n, round(sum(value), 4) as sum_value
    from events
    group by 1, 2
    """


def _sliding_agg(ev: DataFrame) -> DataFrame:
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def window_counts_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling + sliding window aggregates as two CONCURRENT
    streaming queries over the same source (one session runs many
    streaming queries; each has its own checkpoint state). Both are
    started before either is awaited, so the per-query micro-batch
    startup cost is paid in parallel — the shape a real multi-query
    streaming deployment has."""
    tq, tname = _start_to_memory(
        _tumbling_agg(_events_stream(spark, sf_dir), "1 hour"), "complete"
    )
    sq, sname = _start_to_memory(
        _sliding_agg(_events_stream(spark, sf_dir)), "complete"
    )
    tq.awaitTermination()
    sq.awaitTermination()
    tumb = _window_select(spark.table(tname)).select(
        F.lit("tumbling").alias("kind"), "win_start", "event_type", "n", "sum_value"
    )
    slide = _window_select(spark.table(sname)).select(
        F.lit("sliding").alias("kind"), "win_start", "event_type", "n", "sum_value"
    )
    return tumb.unionByName(slide)


def window_counts_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling + sliding window aggregates as ONE streaming query —
    the r12 fused form of :func:`window_counts_concurrent` (identical
    output, oracle-verified).

    Why: each availableNow micro-batch query pays a fixed machinery
    floor — addBatch ~0.5 s + queryPlanning ~0.2 s + WAL/offset
    bookkeeping per stream (r11 recentProgress telemetry) — and the
    concurrent form pays it TWICE (overlapped, but contending for the
    same source listing and scheduler). Window-instance assignment is
    a row-local computation: a 1-hour tumbling window is the epoch
    hour floor, and the two 1h/30min sliding instances start at the
    two half-hour marks in ``(ts − 1h, ts]`` — exactly what
    ``F.window`` expands to (same epoch origin, [start, end) bounds).
    Exploding each event into its 3 tagged (kind, window-start) rows
    and running ONE keyed aggregation computes both answers in one
    micro-batch pipeline: one state pass over the union of both key
    spaces, one source scan instead of two.

    The watermark is kept (same column, same delay) so the query's
    semantics stay those of the windowed originals; in complete mode
    over a finite replay it drops nothing on either form. Counts are
    exact; ``sum_value`` aggregates the identical per-group multiset
    of values (grouping is a bijection onto the originals' groups),
    verified to the same oracle hash at every gate SF."""
    us = F.unix_micros(F.col("ts"))
    h1 = 3_600_000_000  # 1 hour in microseconds
    m30 = 1_800_000_000  # 30 minutes
    # pmod, not %: Spark's % takes the dividend's sign, so a pre-epoch
    # ts would round UP to the next mark instead of flooring like
    # F.window does
    s30 = us - F.pmod(us, F.lit(m30))
    wins = F.array(
        F.struct(
            F.lit("tumbling").alias("kind"),
            F.timestamp_micros(us - F.pmod(us, F.lit(h1))).alias("ws"),
        ),
        F.struct(
            F.lit("sliding").alias("kind"),
            F.timestamp_micros(s30).alias("ws"),
        ),
        F.struct(
            F.lit("sliding").alias("kind"),
            F.timestamp_micros(s30 - m30).alias("ws"),
        ),
    )
    ev = _events_stream(spark, sf_dir).select("ts", "event_type", "value")
    exploded = (
        ev.withWatermark("ts", "10 minutes")
        .select(F.explode(wins).alias("_w"), "event_type", "value")
        .select("_w.kind", "_w.ws", "event_type", "value")
    )
    agg = exploded.groupBy("kind", "ws", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        "kind",
        F.date_format(F.col("ws"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
        "sum_value",
    )


def sliding_counts_sql() -> str:
    # Each event belongs to the two 1h windows starting at the two
    # half-hour marks in (ts - 1h, ts]: generate both and aggregate.
    return """
    with exploded as (
      select unnest([
               time_bucket(interval '30 minutes', ts),
               time_bucket(interval '30 minutes', ts) - interval '30 minutes'
             ]) as win_start,
             event_type, value
      from events
    )
    select strftime(win_start, '%Y-%m-%d %H:%M:%S') as win_start,
           event_type, count(*) as n, round(sum(value), 4) as sum_value
    from exploded
    group by 1, 2
    """


def session_windows(spark: SparkSession, sf_dir: str, gap: str = "5 minutes") -> DataFrame:
    """Per-user session windows (gap-based) — count of events and
    session span, via the native ``session_window`` streaming operator."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_memory(agg, "complete")
    # epoch-µs integer, not a formatted string: sub-second formatting
    # rounds in Spark but truncates in DuckDB.
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("sess_start_us"),
        "n_events",
    )


def stream_distinct_user_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup, both state disciplines, run CONCURRENTLY
    and tagged by ``kind``:

    - ``unbounded``: ``dropDuplicates`` — each (user_id, event_type)
      pair emitted once across ALL micro-batches; state grows with the
      key universe. The semantics that equal the batch oracle on any
      replay.
    - ``watermarked``: ``dropDuplicatesWithinWatermark`` — the 100 TB
      form: state is evicted once the event-time watermark passes a
      key's horizon, so store size is bounded by the late-data window,
      not the corpus. Guarantees exact dedup only for duplicates
      arriving within the watermark of each other — which holds for
      this replay (and the oracle proves it by matching both legs to
      the same ``count(distinct)``).

    The emitted streams are counted per type, so the oracle only
    matches if the dedup state actually worked."""
    ev = _events_stream(spark, sf_dir).select("user_id", "event_type")
    q1, t1 = _start_to_memory(
        ev.dropDuplicates(["user_id", "event_type"]), "append"
    )
    wev = (
        _events_stream(spark, sf_dir)
        .select("ts", "user_id", "event_type")
        .withWatermark("ts", "10 minutes")
    )
    q2, t2 = _start_to_memory(
        wev.dropDuplicatesWithinWatermark(["user_id", "event_type"]),
        "append",
    )
    q1.awaitTermination()
    q2.awaitTermination()

    def _counts(table: str, kind: str) -> DataFrame:
        return (
            spark.table(table)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .select(F.lit(kind).alias("kind"), "event_type", "n_users")
        )

    return _counts(t1, "unbounded").unionAll(_counts(t2, "watermarked"))


STREAM_DISTINCT_SQL = """
select kind, event_type, count(distinct user_id) as n_users
from events cross join (values ('unbounded'), ('watermarked')) k(kind)
group by kind, event_type
"""


def stream_interval_self_join(
    spark: SparkSession, sf_dir: str, horizon_minutes: int = 10
) -> DataFrame:
    """Stream-stream interval join: pairs of events by the same user
    within a time horizon (the "what happened within 10 minutes of X"
    primitive). Both sides carry watermarks and the join condition
    bounds event time on both ends — exactly what lets the engine
    expire join state instead of buffering both streams forever."""
    left = (
        _events_stream(spark, sf_dir)
        .select(F.col("user_id").alias("u1"), F.col("ts").alias("t1"))
        .withWatermark("t1", "10 minutes")
    )
    right = (
        _events_stream(spark, sf_dir)
        .select(F.col("user_id").alias("u2"), F.col("ts").alias("t2"))
        .withWatermark("t2", "10 minutes")
    )
    joined = left.join(
        right,
        (F.col("u1") == F.col("u2"))
        & (F.col("t2") >= F.col("t1"))
        & (F.col("t2") <= F.col("t1") + F.expr(f"interval {horizon_minutes} minutes")),
    )
    out = _run_to_memory(joined.select("u1", "t1", "t2"), "append")
    return out.groupBy(F.col("u1").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def stream_interval_self_join_sql(horizon_minutes: int = 10) -> str:
    return f"""
    select a.user_id, count(*) as n_pairs
    from events a join events b
      on a.user_id = b.user_id
     and b.ts >= a.ts
     and b.ts <= a.ts + interval '{horizon_minutes} minutes'
    group by a.user_id
    """


def session_windows_sql(gap_minutes: int = 5) -> str:
    """Gaps-and-islands twin: a new session starts where the gap from
    the previous event of the same user exceeds the threshold."""
    return f"""
    with marked as (
      select user_id, ts,
             case when lag(ts) over (partition by user_id order by ts)
                       is null
                   or ts - lag(ts) over (partition by user_id order by ts)
                       > interval '{gap_minutes} minutes'
                  then 1 else 0 end as is_start
      from events
    ),
    numbered as (
      select user_id, ts,
             sum(is_start) over (partition by user_id order by ts
                                 rows unbounded preceding) as sess_no
      from marked
    )
    select user_id,
           epoch_us(min(ts)) as sess_start_us,
           count(*) as n_events
    from numbered
    group by user_id, sess_no
    """
