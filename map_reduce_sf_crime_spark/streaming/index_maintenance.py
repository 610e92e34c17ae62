"""Streaming maintenance loop: lakehouse change feed → incremental
fold into a persisted serving artifact.

The batch halves already exist and are individually pinned — the
``lakehouse_cdf`` source turns committed merges into exactly-once
micro-batches of Delta-CDF-vocabulary change events, and every
serving artifact has a fold whose replays collapse by generation
(``sources/generations.py``). This module is the one wiring between
them: one Structured Streaming query per maintained artifact,

    stream_fold(spark, table_path, key_cols, checkpoint,
                fold=lambda spark, batch_df, gen: ...)

with ``gen = gen_base + batch_id``. The fold is the artifact's own
``apply_changes_to_*``, e.g. for the BM25 postings index over a
documents table and the IVF index over an embeddings table::

    stream_fold(spark, docs_path, ["doc_id"], ckpt,
                fold=lambda s, df, gen: apply_changes_to_postings_index(
                    s, df, index_table, gen))
    stream_fold(spark, emb_path, ["vec_id"], ckpt,
                fold=lambda s, df, gen: apply_changes_to_ivf_index(
                    s, index_path, df, gen))

Correctness under the streaming contract:

- ``foreachBatch`` is AT-LEAST-ONCE: a crash replays the failed
  micro-batch with the SAME batch_id, hence the same ``gen`` — and
  every fold's replay contract (full-row distinct per generation at
  read) collapses the duplicate append, so the composition is
  exactly-once end to end without any sink-side transaction.
- ``gen_base`` partitions the generation space: the base build owns
  gen 0, manual folds own whatever the operator chose, and a stream
  owns ``[gen_base, gen_base + n_batches)``. Restarting the stream
  from its checkpoint reuses batch ids consistently; starting a NEW
  checkpoint against an artifact with history requires a fresh
  ``gen_base`` above everything already appended (the fold functions
  validate gen > 0, and colliding generations would alias two
  different batches — the caller owns this, documented loudly).
- Admission control and retention ride the source options
  (``maxCommitsPerTrigger``; replaying past a rewrite needs the
  merges run with ``archive=True`` — a vacuumed pre-image raises at
  planning time instead of mis-diffing).

Scale: each micro-batch is churn-sized end to end — the source plans
from manifests only and diffs touched partitions executor-locally,
and the folds never read the artifact they maintain.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _ensure_source(spark: SparkSession) -> None:
    # registration is idempotent — always re-register rather than
    # memoize by id(spark): a new session can reuse a GC'd session's
    # id and would silently skip registration, failing the load with
    # DATA_SOURCE_NOT_FOUND later
    from .cdf_source import LakehouseChangeFeed

    spark.dataSource.register(LakehouseChangeFeed)


def stream_fold(
    spark: SparkSession,
    table_path: str,
    key_cols: list[str],
    checkpoint: str,
    fold: Callable[[SparkSession, DataFrame, int], None],
    gen_base: int = 1,
    starting_cid: int | None = None,
    max_commits_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Start the maintenance query: every committed merge of
    ``table_path`` becomes one ``fold(spark, changes, gen)`` call with
    ``gen = gen_base + batch_id``. Returns the StreamingQuery —
    ``available_now=True`` (the catch-up/cron form) drains every
    committed change and stops; False runs continuously. The caller
    awaits/stops the query."""
    if gen_base < 1:
        raise ValueError(f"gen_base must be >= 1, got {gen_base}")
    _ensure_source(spark)
    reader = (
        spark.readStream.format("lakehouse_cdf")
        .option("path", table_path)
        .option("keyCols", ",".join(key_cols))
    )
    if starting_cid is not None:
        reader = reader.option("startingCid", str(starting_cid))
    if max_commits_per_trigger is not None:
        reader = reader.option(
            "maxCommitsPerTrigger", str(max_commits_per_trigger)
        )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # planner-empty trigger: no commit range to fold
        fold(spark, batch_df, gen_base + int(batch_id))

    writer = reader.load().writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
