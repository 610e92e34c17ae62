"""Generations: the lifecycle every persisted serving artifact shares.

Each artifact (the IVF / PQ / IVF-PQ indexes and the raw-vector store,
the dedup signature catalog, the BM25 postings and the term-stats
ledger) is a BASE build at generation 0 plus change-feed folds
appended under generations > 0, periodically compacted back to a
single generation 0. The families differ only in how they encode a
batch of documents or vectors; the four steps below are the same for
all of them and live here once.

1. **Generations and the change-feed split** — :func:`check_gen`
   (the base build owns 0, every fold needs its own id > 0) and
   :func:`split_changes` (``read_changes`` vocabulary → the dead and
   live halves of one batch, after ONE ``localCheckpoint`` so the
   several probes and writes a fold makes re-read materialized rows,
   never the feed's snapshot join).
2. **Signed ledgers** — :func:`write_ledger`, :func:`fold_ledger`,
   :func:`net_ledger`, :func:`compact_ledger`. Additive statistics
   (term counts, BM25 postings) fold as signed delta rows appended
   to a table bucketed on the ledger key: deletes subtract, inserts
   add, nothing is tombstoned. A read nets the generations with a
   bucket-local ``distinct`` (the replay collapse: a re-run fold
   appends byte-identical rows) and ``groupBy``-sum.
3. **Generation-scoped tombstones** — :func:`drop_dead`. Set-valued
   artifacts (index lists, signature catalogs) cannot subtract, so a
   delete records ``(key, dead_as_of=gen)`` and a read drops rows
   whose own generation is OLDER than the key's latest tombstone. An
   update's post-image, appended under the same generation as its
   tombstone, survives it; so does any later re-insert.
4. **Rename-aside swap** — :func:`swap_dir` / :func:`recover_dir`
   for directory artifacts; bucketed tables use the metastore twin
   ``lakehouse.swap_rewrite``, healed by
   ``lakehouse.recover_bucketed_compaction``. A compaction never overwrites
   what it reads: it stages the rewrite next to the live copy and
   swaps it in by renames, so a crash at any point leaves a complete
   copy that recovery promotes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lakehouse import CDF_DEAD_TYPES, CDF_LIVE_TYPES


def check_gen(gen: int, name: str = "gen") -> None:
    """Refuse generation 0 (the base build's) and below for a fold."""
    if gen <= 0:
        raise ValueError(
            f"{name} must be > 0 (got {gen}); 0 is the base build"
        )


def split_changes(changes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(dead, live) halves of a change-feed batch: deletes and update
    pre-images kill the stored copy; inserts and update post-images
    are the rows to add. The feed is materialized once first — its
    plan is a snapshot join, and every fold reads it more than once."""
    changes = changes.localCheckpoint()
    kind = F.col("_change_type")
    return (
        changes.filter(kind.isin(*CDF_DEAD_TYPES)),
        changes.filter(kind.isin(*CDF_LIVE_TYPES)),
    )


# ---------------------------------------------------------------------------
# Signed ledgers
# ---------------------------------------------------------------------------


def ledger_buckets(spark, table: str, key: str, what: str) -> int:
    """Bucket count of a ledger table, refusing a table not bucketed
    on exactly ``key`` (``what`` names the family in the error)."""
    from .lakehouse import _bucket_spec

    n_buckets, bcols, _, _ = _bucket_spec(spark, table)
    if bcols != [key]:
        raise ValueError(f"{table} is not a {what} (buckets {bcols})")
    return n_buckets


def _net(rows: DataFrame, keys: list[str], sums: list[str]) -> DataFrame:
    nonzero = F.lit(False)
    for c in sums:
        nonzero = nonzero | (F.col(c) != 0)
    return (
        rows.groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in sums])
        .filter(nonzero)
    )


def net_ledger(rows: DataFrame, keys: list[str], sums: list[str]) -> DataFrame:
    """Net persisted ledger rows per key: full-row ``distinct``
    collapses replayed appends (within one generation there is one row
    per key, so only a re-run fold's copies are exact duplicates),
    then the ``sums`` columns are summed per ``keys`` and keys that
    net to zero everywhere drop out. On a table bucketed on
    ``keys[0]`` both steps are bucket-local — no shuffle."""
    return _net(rows.distinct(), keys, sums)


def write_ledger(rows: DataFrame, table: str, key: str, n_buckets: int) -> None:
    """Base build of a signed ledger: ``rows`` land as generation 0 in
    a fresh table bucketed on ``key``. Any previous table is dropped
    first, together with an orphaned location a crashed write left
    behind (``saveAsTable`` refuses to adopt one)."""
    from .lakehouse import drop_table_and_orphan, write_bucketed

    drop_table_and_orphan(rows.sparkSession, table)
    write_bucketed(
        rows.withColumn("gen", F.lit(0).cast("int")), table, key, n_buckets
    )


def fold_ledger(
    spark,
    changes: DataFrame,
    table: str,
    gen: int,
    deltas: Callable[[DataFrame, int], DataFrame],
    keys: list[str],
    sums: list[str],
    n_buckets: int,
) -> None:
    """Append one change-feed batch to a signed ledger (bucketed on
    ``keys[0]`` into ``n_buckets``, as the family's layout check
    reported) as ONE netted delta row per touched key under ``gen``.
    ``deltas(docs, sign)`` is the family's encoder: signed ``keys`` +
    ``sums`` rows for a set of documents. Cost is batch-sized: the
    ledger itself is never read. A re-run of the same (batch, gen)
    appends byte-identical rows, which :func:`net_ledger` collapses."""
    from .lakehouse import write_bucketed

    check_gen(gen)
    dead, live = split_changes(changes)
    delta = _net(
        deltas(live, 1).unionByName(deltas(dead, -1)), keys, sums
    ).withColumn("gen", F.lit(gen).cast("int"))
    write_bucketed(delta, table, keys[0], n_buckets, mode="append")
    # in a foreachBatch loop the append runs through the batch frame's
    # CLONE session, whose saveAsTable invalidates only its own
    # relation cache — refresh the caller's view of the table
    spark.catalog.refreshTable(table)


def compact_ledger(
    spark, table: str, keys: list[str], sums: list[str], n_buckets: int
) -> None:
    """Collapse a ledger to one generation 0 of netted rows. The rows
    are written to ``{table}__compact`` and swapped in by
    ``lakehouse.swap_rewrite``'s two renames — the table being read
    is never overwritten, so a failed rewrite leaves it serving its
    pre-compaction totals and ``recover_bucketed_compaction`` heals
    every crash window. Compaction closes the replay window: a
    pre-compaction fold re-run afterwards would append its delta as
    new rows."""
    from . import lakehouse

    netted = net_ledger(spark.table(table), keys, sums).withColumn(
        "gen", F.lit(0).cast("int")
    )
    lakehouse.swap_rewrite(
        spark,
        table,
        lambda tmp: lakehouse.write_bucketed(netted, tmp, keys[0], n_buckets),
    )


# ---------------------------------------------------------------------------
# Generation-scoped tombstones
# ---------------------------------------------------------------------------


def drop_dead(
    rows: DataFrame,
    tombstones: DataFrame | None,
    key: str,
    gen_col: str,
    dead_col: str,
) -> DataFrame:
    """Drop ``rows`` whose ``key`` was tombstoned at a generation
    AFTER the row's own ``gen_col``; ``tombstones`` carries
    ``(key, dead_col)`` rows, or is None when the artifact has none.
    The dead set is churn-sized by construction (deletes + updates,
    never corpus size), so it is max-aggregated and broadcast — the
    scan of ``rows`` is never shuffled."""
    if tombstones is None:
        return rows
    dead = tombstones.groupBy(key).agg(F.max(dead_col).alias("_dead_as_of"))
    return (
        rows.join(F.broadcast(dead), key, "left")
        .filter(
            F.col("_dead_as_of").isNull()
            | (F.col(gen_col) >= F.col("_dead_as_of"))
        )
        .drop("_dead_as_of")
    )


# ---------------------------------------------------------------------------
# Rename-aside directory swap
# ---------------------------------------------------------------------------


def _fs_must(ok: bool, what: str) -> None:
    # Hadoop FileSystem.rename/delete report failure by RETURNING
    # false; an ignored false is silent layout corruption (a rename
    # into an existing destination nests the source inside it)
    if not ok:
        raise IOError(f"filesystem operation failed: {what}")


def recover_dir(spark, base: str, what: str) -> str:
    """Heal any crash residue of :func:`swap_dir` at ``base`` and say
    what was done. Idempotent; :func:`swap_dir` runs it first.

    - ``base`` live: a stray ``.compact`` stage (crash during the
      staged write) is discarded; a stray ``.old`` (crash before the
      final delete) is cleared; neither → ``"clean"``.
    - ``base`` missing, stage present (crash between the renames):
      the stage is complete by the write-before-rename ordering, so
      it is promoted and any ``.old`` cleared → ``"finished swap"``.
    - ``base`` and stage missing, ``.old`` present: the pre-swap copy
      is restored → ``"restored original"``.
    - nothing at all: ``ValueError`` naming ``what``."""
    from .lakehouse import _hfs

    stage, old = f"{base}.compact", f"{base}.old"
    fs, jvm = _hfs(spark, base)
    P = jvm.org.apache.hadoop.fs.Path
    live, has_stage, has_old = (
        fs.exists(P(base)), fs.exists(P(stage)), fs.exists(P(old))
    )
    if not live:
        if has_stage:
            _fs_must(fs.rename(P(stage), P(base)), f"rename {stage} -> {base}")
            if has_old:
                _fs_must(fs.delete(P(old), True), f"delete {old}")
            return "finished swap"
        if has_old:
            _fs_must(fs.rename(P(old), P(base)), f"rename {old} -> {base}")
            return "restored original"
        raise ValueError(
            f"no {what} at {base} (and no {stage} or {old} to recover from)"
        )
    done = []
    if has_stage:
        _fs_must(fs.delete(P(stage), True), f"delete {stage}")
        done.append("discarded partial rewrite")
    if has_old:
        _fs_must(fs.delete(P(old), True), f"delete {old}")
        done.append("finished cleanup")
    return "; ".join(done) or "clean"


def swap_dir(
    spark, base: str, what: str, write: Callable[[str], None]
) -> None:
    """Replace the directory ``base`` with a rewrite of it, crash-safe.

    ``write(stage)`` writes the new copy to ``{base}.compact`` (it may
    read ``base`` — nothing touches ``base`` until the write is
    complete); then ``base`` is renamed aside to ``{base}.old``, the
    stage renamed in, and ``.old`` deleted last. Renames are single
    metadata operations, while a recursive delete of a multi-directory
    tree is not atomic, so no step ever has the only complete copy
    inside a non-atomic operation. Every residue state is healed by
    :func:`recover_dir`, which this runs first.

    Single writer: two concurrent swaps of one ``base`` race
    destructively (one's residue cleanup can delete the other's
    stage). Readers are safe throughout except in the gap between the
    two renames, where ``base`` is briefly absent — a loud read error,
    never a wrong answer."""
    from .lakehouse import _hfs

    recover_dir(spark, base, what)
    stage, old = f"{base}.compact", f"{base}.old"
    write(stage)
    fs, jvm = _hfs(spark, base)
    P = jvm.org.apache.hadoop.fs.Path
    _fs_must(fs.rename(P(base), P(old)), f"rename {base} -> {old}")
    _fs_must(fs.rename(P(stage), P(base)), f"rename {stage} -> {base}")
    _fs_must(fs.delete(P(old), True), f"delete {old}")
