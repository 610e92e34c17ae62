"""Token-budget sequence packing — assign documents to fixed-budget
bins, the standard prep step before concatenating training corpora
into fixed-length model sequences.

Semantics: within each ``source`` (the natural sharding key of a
training corpus), documents are taken in deterministic ``doc_id``
order and assigned to bin ``floor(tokens_before_this_doc / budget)``
— contiguous running-total packing. Every bin except the last holds
at least ``budget`` tokens once its boundary is crossed; documents
are never split. This is the streaming-friendly packing discipline
(one pass, no bin lookback), not best-fit bin packing (NP-hard and
order-unstable — wrong for reproducible corpus builds).

Scale shape: the running total is computed TWO-PHASE by default —
each source is sub-sharded into contiguous ``doc_id`` ranges, the
window runs per (source, shard), and per-shard token totals are
offset-joined back (the same discipline as the SH1 global shuffle
ranking). A pathologically single-source corpus therefore never
funnels through one window task; results are provably identical to
the one-giant-window form (decomposition of a running sum), pinned
in tests/test_packing_skew.py. No reference counterpart (SURVEY
§2.11 PK1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.caching import plan_cache
from ..functions.text import tokens_col, tokens_sql

#: Rows per packing window task: a source larger than this is
#: sub-sharded into contiguous doc_id ranges so no single task sorts
#: more than ~this many rows. The offsets side stays tiny (n /
#: PACK_SHARD_ROWS rows — ~1M offsets per 10¹² docs, a broadcastable
#: few tens of MB even at extreme scale). Power of two: the shard id
#: is the doc_id's high bits, so shards are doc_id-ordered ranges and
#: offsets accumulate in shard order.
PACK_SHARD_ROWS = 1 << 20


def _sharded_running_total(
    sized: DataFrame, order_cols: list[str], shard_rows: int
) -> DataFrame:
    """Per-source running token total ordered by ``order_cols``
    (``doc_id`` first), computed two-phase: window within contiguous
    doc_id-range shards, then add each shard's starting offset (the
    per-source sum of earlier shards' totals). Identical values to a
    single per-source window — a running sum decomposes across any
    ordered partition of its rows — with task size bounded by the
    shard width instead of the hottest source. Adds ``_run``.

    Bound, stated precisely: a shard holds at most ``shard_rows``
    DISTINCT doc_ids, so the per-task row count is shard_rows ×
    rows-per-doc (1 for pack_documents; chunks-per-doc for
    pack_chunks — callers with heavy chunk fan-out should lower
    ``shard_rows`` accordingly). NULL doc_ids (if any) land in a
    dedicated smallest shard, first within their source — the same
    NULLS FIRST position Spark's plain per-source window gives them;
    doc_ids are assumed unique-ish, so that sentinel shard stays
    small."""
    shift = max(0, shard_rows.bit_length() - 1)
    # Both the window branch and the shard-totals branch read this
    # frame; without the cache the totals branch re-tokenizes the
    # corpus from parquet (the plan showed a second Scan+Generate).
    # The frame is thin — ids + token counts, ~tens of bytes/row —
    # so caching it costs ~0.1% of the text it summarizes.
    sharded = plan_cache(
        sized.withColumn(
            "_shard",
            F.coalesce(
                F.shiftright(F.col("doc_id"), shift), F.lit(-(1 << 62))
            ),
        )
    )
    w = (
        Window.partitionBy("source", "_shard")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = sharded.withColumn("_run", F.sum("n_tok").over(w))
    totals = sharded.groupBy("source", "_shard").agg(
        F.sum("n_tok").alias("_tot")
    )
    wo = (
        Window.partitionBy("source")
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # The offsets join must be NULL-SAFE on source: groupBy and window
    # partitioning both treat NULL source as a regular group, but a
    # plain equi-join would drop those rows (confirmed data loss in
    # review) — <=> keeps the two-phase form row-identical to the
    # naive window for NULL-source corpora too.
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_tot").over(wo), F.lit(0))
    ).select(
        F.col("source").alias("_osrc"),
        F.col("_shard").alias("_oshard"),
        "_off",
    )
    return (
        local.join(
            F.broadcast(offsets),
            F.col("source").eqNullSafe(F.col("_osrc"))
            & (F.col("_shard") == F.col("_oshard")),
        )
        .withColumn("_run", F.col("_run") + F.col("_off"))
        .drop("_osrc", "_oshard", "_shard", "_off")
    )


def pack_documents(
    docs: DataFrame, budget: int, shard_rows: int = PACK_SHARD_ROWS
) -> DataFrame:
    """Per-doc packing assignment: (doc_id, source, n_tok, bin_id)."""
    sized = docs.select(
        "doc_id",
        "source",
        F.size(tokens_col(F.col("text"))).alias("n_tok"),
    )
    run = _sharded_running_total(sized, ["doc_id"], shard_rows)
    return run.select(
        "doc_id",
        "source",
        "n_tok",
        F.floor((F.col("_run") - F.col("n_tok")) / budget).alias("bin_id"),
    )


def chunk_documents(
    docs: DataFrame, chunk_tokens: int, overlap: int = 0
) -> DataFrame:
    """Token-window chunking (CH1): split each document into windows
    of ``chunk_tokens`` tokens with ``overlap`` tokens shared between
    consecutive windows — the step that turns variable-length
    documents into model-sized pieces before packing. Documents are
    never merged here (that's packing) and windows are per-document,
    so the explode is row-local: a 100 TB scan chunks with zero
    shuffle. Empty documents emit one zero-token chunk so every doc
    stays represented downstream.

    Returns (doc_id, chunk_id, source, n_tok) where n_tok counts the
    tokens in the chunk (the final window may be short)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    sized = docs.select(
        "doc_id",
        "source",
        F.size(tokens_col(F.col("text"))).alias("doc_tok"),
    )
    # windows covering doc_tok tokens at this stride:
    # max(ceil((doc_tok - overlap) / stride), 1)
    n_chunks = F.greatest(
        F.ceil((F.col("doc_tok") - overlap) / stride), F.lit(1)
    )
    return (
        sized.withColumn(
            "chunk_id",
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))),
        )
        .withColumn(
            "n_tok",
            F.least(
                F.lit(chunk_tokens),
                F.col("doc_tok") - F.col("chunk_id") * stride,
            ).cast("int"),
        )
        .select("doc_id", "chunk_id", "source", "n_tok")
    )


CDC_WINDOW = 4
CDC_DIVISOR = 16
CDC_SEED = "cdc"


def _cdc_boundaries(tok, window: int, divisor: int, seed: str):
    """Column of interior boundary positions (1-based token index
    AFTER which a cut happens): position ``i`` is a boundary iff the
    seeded hash of the last ``window`` tokens ending at ``i`` is
    ≡ 0 mod ``divisor``. Pure codegen HOFs over the token array."""
    from ..functions.hashing import hash64_col

    n = F.size(tok)
    cand = F.when(n > window, F.sequence(F.lit(window), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.filter(
        cand,
        lambda i: hash64_col(
            F.concat_ws(" ", F.slice(tok, i - window + 1, F.lit(window))),
            seed=seed,
        )
        % divisor
        == 0,
    )


def chunk_documents_cdc(
    docs: DataFrame,
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    seed: str = CDC_SEED,
) -> DataFrame:
    """Content-defined chunking (CH2): cut where a rolling window's
    seeded hash hits a divisor residue, so expected chunk length is
    ``divisor`` tokens and — unlike fixed windows — boundaries are a
    function of LOCAL content: an edit early in a document only moves
    the cuts inside its own neighborhood, every later chunk survives
    byte-identical (the property that makes chunk-level dedup robust
    to prepended boilerplate; rsync/LBFS lineage, public). Row-local
    explode, zero shuffle, same downstream contract as
    :func:`chunk_documents`.

    Returns (doc_id, chunk_id, source, start, n_tok); ``start`` is
    the 0-based token offset of the chunk. Empty docs emit one
    zero-token chunk."""
    tok = tokens_col(F.col("text"))
    sized = docs.select(
        "doc_id", "source", tok.alias("tok"), F.size(tok).alias("doc_tok")
    )
    bpos = _cdc_boundaries(F.col("tok"), window, divisor, seed)
    seg = sized.select(
        "doc_id",
        "source",
        "doc_tok",
        F.arrays_zip(
            F.concat(F.array(F.lit(0)), bpos).alias("start"),
            F.concat(bpos, F.array(F.col("doc_tok"))).alias("end"),
        ).alias("segs"),
    )
    return (
        seg.select(
            "doc_id",
            "source",
            F.posexplode("segs").alias("chunk_id", "s"),
        )
        .select(
            "doc_id",
            "chunk_id",
            "source",
            F.col("s.start").cast("int").alias("start"),
            (F.col("s.end") - F.col("s.start")).cast("int").alias("n_tok"),
        )
    )


def cdc_chunk_counts(
    docs: DataFrame,
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    seed: str = CDC_SEED,
) -> DataFrame:
    """(doc_id, n_cdc_chunks): the gate-checked projection of
    :func:`chunk_documents_cdc` — boundary count + 1 without the
    explode."""
    tok = tokens_col(F.col("text"))
    return docs.select(
        "doc_id",
        (F.size(_cdc_boundaries(tok, window, divisor, seed)) + 1)
        .cast("long")
        .alias("n_cdc_chunks"),
    )


def cdc_chunk_count_sql(
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    seed: str = CDC_SEED,
) -> str:
    """DuckDB twin of ``size(boundaries)+1`` per doc (the gate-checked
    projection of :func:`chunk_documents_cdc`)."""
    from ..functions.hashing import hash64_sql

    h = hash64_sql(
        f"array_to_string(list_slice(tok, i - {window} + 1, i), ' ')",
        seed=seed,
    )
    return f"""
    select doc_id,
           len(list_filter(
                 case when len(tok) > {window}
                      then generate_series({window}, len(tok) - 1)
                      else [] end,
                 i -> ({h}) % {divisor} = 0)) + 1 as n_cdc_chunks
    from (select doc_id, {tokens_sql('text')} as tok from documents)
    """


def pack_chunks(
    chunks: DataFrame, budget: int, shard_rows: int = PACK_SHARD_ROWS
) -> DataFrame:
    """Packing assignment at chunk granularity: same two-phase
    running-total discipline as :func:`pack_documents`, ordered by
    (doc_id, chunk_id) within each source so a document's chunks stay
    contiguous in the packed sequence stream. Shards cut on doc_id
    ranges only, so a document's chunks never straddle a shard — which
    also means a shard holds shard_rows docs' WORTH of chunks, not
    shard_rows rows; size ``shard_rows`` down by the expected
    chunks-per-doc to keep the same per-task bound."""
    cols = chunks.columns
    run = _sharded_running_total(chunks, ["doc_id", "chunk_id"], shard_rows)
    return run.select(
        *cols,
        F.floor((F.col("_run") - F.col("n_tok")) / budget).alias("bin_id"),
    )


def chunk_pack_sql(chunk_tokens: int, budget: int) -> str:
    """DuckDB twin of ``pack_chunks(chunk_documents(docs))`` with
    overlap=0 (the registry configuration)."""
    return f"""
    with sized as (
      select doc_id, source, len({tokens_sql('text')}) as doc_tok
      from documents
    ),
    c as (
      select doc_id, source, doc_tok,
             unnest(generate_series(0,
               cast(greatest(ceil(doc_tok * 1.0 / {chunk_tokens}), 1)
                    as bigint) - 1)) as chunk_id
      from sized
    ),
    chunks as (
      select doc_id, cast(chunk_id as int) as chunk_id, source,
             cast(least({chunk_tokens},
                        doc_tok - chunk_id * {chunk_tokens}) as int)
               as n_tok
      from c
    )
    select doc_id, chunk_id, source, n_tok,
           cast(floor((sum(n_tok) over (partition by source
                 order by doc_id, chunk_id
                 rows between unbounded preceding and current row)
                 - n_tok) * 1.0 / {budget}) as bigint) as bin_id
    from chunks
    """
