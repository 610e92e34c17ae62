"""Kafka source spec for the streaming operators.

Every streaming aggregation (streaming/windows.py, stateful.py,
materialize.py) is built against a plain ``events``-schema DataFrame,
so "points at Kafka unchanged" is a source swap, not a rewrite. This
module IS that swap: the reader spec for the events topic plus the
wire decode back to the exact events schema.

The Kafka connector (``org.apache.spark:spark-sql-kafka-0-10``) ships
separately from pyspark. Without it on the classpath,
``kafka_events_reader(...).load()`` raises Spark's data-source-not-
found error at load time — the reader spec itself and the decode +
aggregation graph are still fully constructible and are what
tests/test_kafka_parity.py checks (config parity, no broker).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

#: The events table schema as carried on the wire (JSON-encoded in the
#: Kafka record value). Must stay in lockstep with the parquet layout
#: sources/parquet.py loads.
EVENTS_WIRE_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)

#: Wire timestamp precision is part of the topic contract: Spark's
#: default JSON timestampFormat truncates to milliseconds, silently
#: dropping the µs the parquet layout carries — pin full microseconds
#: on encode and decode.
WIRE_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def kafka_events_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataStreamReader:
    """The (unloaded) Kafka reader spec for the events topic. Split
    from ``.load()`` so config construction is testable without the
    connector jar or a broker."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )


def _decoded(wire: DataFrame):
    return wire.select(
        F.from_json(
            F.col("value").cast("string"),
            EVENTS_WIRE_SCHEMA,
            {"timestampFormat": WIRE_TS_FORMAT},
        ).alias("e")
    )


#: A decoded record is usable only if the fields every downstream
#: operator keys on survived the parse: ``ts`` drives all windows and
#: watermarks, ``event_id`` identity/dedup. PERMISSIVE ``from_json``
#: maps a NULL value to a NULL struct but MALFORMED JSON to a struct
#: of all-NULL fields — this predicate catches both.
def _valid(e):
    return e.isNotNull() & e["ts"].isNotNull() & e["event_id"].isNotNull()


def decode_events(wire: DataFrame, observation=None) -> DataFrame:
    """Kafka wire frame → events schema: JSON-decode the record value.
    Accepts any frame carrying a binary/string ``value`` column (the
    loaded Kafka source in production; a synthesized wire-shaped frame
    in tests), returns exactly the events columns so every downstream
    streaming operator is oblivious to the source swap.

    Records that do not decode to a usable event (NULL/truncated
    value, non-JSON bytes, missing ts/event_id) are DROPPED rather
    than surfaced as NULL-field rows — those would silently fall out
    of time windows or group under NULL keys downstream, which is
    invisible data loss. The drop is observable in the SAME pass:
    pass ``observation`` (a metric name on a stream — read it from
    ``StreamingQueryProgress.observedMetrics[name]`` — or a
    ``pyspark.sql.Observation`` in batch, read from ``.get``) and the
    dropped-record count is published as an observed metric with no
    second scan of the topic; production would additionally route the
    raw record to a dead-letter topic."""
    d = _decoded(wire)
    if observation is not None:
        d = d.observe(
            observation,
            # coalesce: F.sum over a zero-row micro-batch is NULL, and a
            # monitoring consumer doing arithmetic on the observed metric
            # would throw — report 0 instead
            F.coalesce(
                F.sum((~_valid(F.col("e"))).cast("long")), F.lit(0)
            ).alias("n_undecodable"),
        )
    return d.filter(_valid(F.col("e"))).select("e.*")


def undecodable_count(wire: DataFrame) -> DataFrame:
    """One-row ``(n_undecodable)`` batch twin of the decode drop.
    This RE-SCANS the wire frame — fine for a batch audit; on a live
    stream use ``decode_events(wire, observation=...)`` instead, which
    counts the drops on the same pass (undecodable rows have no usable
    event time, so they can only be metered per micro-batch, not
    windowed)."""
    d = _decoded(wire)
    return d.filter(~_valid(F.col("e"))).agg(
        F.count(F.lit(1)).alias("n_undecodable")
    )
