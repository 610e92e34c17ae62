"""Corpus-global term statistics — document frequency and collection
term frequency per token, the discovery pass behind boilerplate
removal, stopword induction, and IDF weighting in corpus prep.

Shape at scale: explode → groupBy(token) is the canonical wordcount —
map-side partial aggregation means the shuffle carries one partial
row per (task, token), and hot tokens (the exact ones this query
exists to find) are absorbed by the combiner, not shuffled row-by-row.
The top-k is an ``orderBy(...).limit(k)`` — Spark plans TakeOrdered
(per-partition heap + driver merge of k-row heads), never a global
sort. Deterministic tie-break on the token itself.

No reference counterpart (SURVEY §2.11 TF1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens_col, tokens_sql
from ..sources.generations import (
    compact_ledger,
    fold_ledger,
    ledger_buckets,
    net_ledger,
    write_ledger,
)


def token_doc_freq(
    docs: DataFrame, top_k: int = 50, count_docs: DataFrame | None = None
) -> DataFrame:
    """Top-``top_k`` tokens by document frequency:
    (token, df, tf, df_ppm) — df = #docs containing it, tf = total
    count, df_ppm = documents-per-million containing it.

    ``df_ppm`` is the IDF input in IEEE-exact integer form:
    idf = ln(1e6 / df_ppm) is derivable downstream, but ``ln`` itself
    is NOT emitted because transcendental libm results differ in the
    last ulp between the JVM and DuckDB (measured: 477/500 of the
    values in this corpus's df range) — floor of a product/quotient of
    small integers is correctly-rounded IEEE arithmetic on both
    engines, so it hash-matches. Same discipline as the QZ1
    quantization (operators/quantize.py).

    The corpus total rides in as a broadcast one-row cross join —
    one plan, no driver round-trip. ``count_docs``: optional frame to
    count for that total instead of ``docs`` — callers that hand in a
    ``fan_out``-repartitioned ``docs`` (tokenizing is the CPU-heavy
    leg) pass the un-fanned original so the count branch stays a bare
    column-pruned scan instead of paying the repartition exchange."""
    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    stats = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("tf"),
    )
    total = (docs if count_docs is None else count_docs).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        stats.crossJoin(F.broadcast(total))
        .withColumn(
            "df_ppm",
            F.floor(F.col("df") * 1000000.0 / F.col("n_docs")).cast("long"),
        )
        .drop("n_docs")
        .orderBy(F.desc("df"), F.desc("tf"), F.asc("token"))
        .limit(top_k)
    )


def unigram_commonness(
    docs: DataFrame, min_df: int = 2, base: DataFrame | None = None
) -> DataFrame:
    """Corpus-adaptive document quality score — the APPLICATION of the
    TF1 term statistics: score each document by how "common" its
    tokens are in this corpus (the cheap, model-free stand-in for the
    CCNet-style LM-perplexity filter: gibberish and OCR noise score
    low, boilerplate scores very high, both tails are filter
    candidates). Per doc:

    - ``n_toks`` — token count;
    - ``mean_tf_ppm`` — mean corpus collection-frequency (ppm) of its
      tokens (occurrence-weighted): high = built from frequent
      tokens;
    - ``oov_frac`` — fraction of token occurrences whose document
      frequency is below ``min_df`` (corpus-derived out-of-vocabulary
      mass: near-1 = tokens that appear nowhere else).

    Both ratios divide exact integer sums, so the values are
    IEEE-identical on any engine (the same discipline as ``df_ppm`` —
    no transcendental ``ln`` in the output; idf-style log-weighting is
    derivable downstream).

    Scale shape: the per-(doc, token) count collapses repeats BEFORE
    the vocabulary join, so a hot token ("the") joins once per
    CONTAINING DOC, never once per occurrence, and the join's build
    side carries one row per distinct token. Zipfian join keys are
    exactly what AQE skew-split handles (enabled in session.py); the
    final aggregate is map-side combined on doc_id. Empty/token-less
    docs are preserved with zeroed stats via the left join back.

    ``base``: optional one-row-per-doc frame to left-join the stats
    onto instead of ``docs.select("doc_id")`` — a caller that already
    holds a per-doc projection (text_profile's row-local columns)
    passes it here so the plan joins ONCE instead of re-scanning the
    corpus for a doc_id spine and joining that spine back in a second
    join. Must carry ``doc_id`` exactly once per doc; its other
    columns pass through unchanged ahead of the three stat columns."""
    from ..functions.caching import plan_cache

    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    # both the vocabulary and the per-doc aggregate read dt, and both
    # the ppm projection and the corpus total read stats — cache each
    # so the corpus is tokenized once, not once per consumer
    dt = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("k")
    ).transform(plan_cache)
    stats = dt.groupBy("token").agg(
        F.sum("k").alias("tf"), F.count(F.lit(1)).alias("df")
    ).transform(plan_cache)
    total = stats.agg(F.sum("tf").alias("total_tf"))
    vocab = stats.crossJoin(F.broadcast(total)).select(
        "token",
        F.floor(F.col("tf") * 1000000.0 / F.col("total_tf"))
        .cast("long")
        .alias("tf_ppm"),
        "df",
    )
    per_doc = (
        dt.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_toks"),
            F.round(
                F.sum(F.col("k") * F.col("tf_ppm")) / F.sum("k"), 6
            ).alias("mean_tf_ppm"),
            F.round(
                F.sum(
                    F.when(F.col("df") < min_df, F.col("k")).otherwise(0)
                )
                / F.sum("k"),
                6,
            ).alias("oov_frac"),
        )
    )
    spine = docs.select("doc_id") if base is None else base
    carried = [c for c in spine.columns if c != "doc_id"]
    return spine.join(per_doc, "doc_id", "left").select(
        "doc_id",
        *carried,
        F.coalesce("n_toks", F.lit(0)).cast("long").alias("n_toks"),
        F.coalesce("mean_tf_ppm", F.lit(0.0)).alias("mean_tf_ppm"),
        F.coalesce("oov_frac", F.lit(0.0)).alias("oov_frac"),
    )


def unigram_commonness_sql(min_df: int = 2) -> str:
    """DuckDB twin of :func:`unigram_commonness`."""
    return f"""
    with tok as (
      select doc_id, unnest({tokens_sql('text')}) as token
      from documents
    ),
    dt as (
      select doc_id, token, count(*) as k from tok group by doc_id, token
    ),
    stats as (
      select token, sum(k) as tf, count(*) as df from dt group by token
    ),
    vocab as (
      select token,
             cast(floor(tf * 1000000.0 / (select sum(tf) from stats))
                  as bigint) as tf_ppm,
             df
      from stats
    ),
    per_doc as (
      select dt.doc_id,
             sum(k) as n_toks,
             round(sum(k * tf_ppm) * 1.0 / sum(k), 6) as mean_tf_ppm,
             round(sum(case when df < {min_df} then k else 0 end) * 1.0
                   / sum(k), 6) as oov_frac
      from dt join vocab using (token)
      group by dt.doc_id
    )
    select d.doc_id,
           cast(coalesce(p.n_toks, 0) as bigint) as n_toks,
           coalesce(p.mean_tf_ppm, 0.0) as mean_tf_ppm,
           coalesce(p.oov_frac, 0.0) as oov_frac
    from documents d left join per_doc p using (doc_id)
    """


def token_doc_freq_sql(top_k: int = 50) -> str:
    return f"""
    with tok as (
      select doc_id, unnest({tokens_sql('text')}) as token
      from documents
    )
    select token, count(distinct doc_id) as df, count(*) as tf,
           cast(floor(count(distinct doc_id) * 1000000.0
                / (select count(*) from documents)) as bigint) as df_ppm
    from tok
    group by token
    order by df desc, tf desc, token asc
    limit {top_k}
    """


# ---------------------------------------------------------------------------
# Persisted term stats + change-feed maintenance (the TF1 catalog).
#
# The corpus-wide (token, df, tf) aggregate is the third persisted
# artifact a training pipeline keeps warm next to the ANN indexes and
# the dedup signature catalog — and like them it must never be
# recomputed from 100 TB of text because one day's crawl changed.
# Layout: an APPEND-ONLY DELTA LEDGER, hash-bucketed on token —
# every batch (the base build is just gen 0) appends one aggregated
# delta row per token it touches, so reading the live stats is a
# bucket-local groupBy-sum with NO shuffle, and folding a change
# batch costs exactly one batch-sized tokenize + aggregate + append.
# The signed-delta form is what makes DELETES and UPDATES first-class:
# a removed document's counts are subtracted, not tombstoned, because
# term stats are additive (unlike signature sets, which need the
# generation-scoped tombstones dedup uses).
# ---------------------------------------------------------------------------

_TS_SUMS = ["d_df", "d_tf", "d_docs"]


def _term_deltas(docs: DataFrame, sign: int) -> DataFrame:
    """Signed per-token delta rows for a doc set: (token, d_df, d_tf,
    d_docs=0) per token, plus ONE null-token row carrying the signed
    doc count (the ledger's n_docs accumulator — kept in-table so the
    stats stay one self-contained artifact). Shape: the per-(doc,
    token) collapse bounds the shuffle at one row per distinct pair,
    and hot tokens are absorbed map-side exactly as in the live
    wordcount."""
    dt = (
        docs.select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    per_tok = dt.groupBy("token").agg(
        (F.lit(sign) * F.count(F.lit(1))).cast("long").alias("d_df"),
        (F.lit(sign) * F.sum("k")).cast("long").alias("d_tf"),
    ).withColumn("d_docs", F.lit(0).cast("long"))
    n_docs = docs.agg(
        (F.lit(sign) * F.count(F.lit(1))).cast("long").alias("d_docs")
    ).select(
        F.lit(None).cast("string").alias("token"),
        F.lit(0).cast("long").alias("d_df"),
        F.lit(0).cast("long").alias("d_tf"),
        "d_docs",
    )
    return per_tok.unionByName(n_docs)


def write_term_stats(docs: DataFrame, table: str, n_buckets: int = 16) -> None:
    """Build the persisted term-stats ledger from scratch: the whole
    corpus's counts land as generation 0. One full tokenize — the
    cost every later fold exists to avoid paying again."""
    write_ledger(_term_deltas(docs, 1), table, "token", n_buckets)


def apply_changes_to_term_stats(
    spark, changes: DataFrame, table: str, gen: int
) -> None:
    """Fold a lakehouse change feed (``sources.lakehouse.read_changes``
    vocabulary over a ``(doc_id, text, ...)`` table) into the term
    stats: deletes and update pre-images subtract their token counts,
    inserts and post-images add theirs, netted into ONE aggregated
    delta row per touched token and appended under this ``gen``. An
    update therefore shifts only the tokens whose counts actually
    changed. Cost is batch-sized end-to-end; the ledger is never
    read.

    REPLAY: a re-run of the same (batch, gen) appends byte-identical
    rows, and readers collapse exact duplicate rows per gen before
    summing — so crash-and-re-run cannot double-count, the same
    contract as the lakehouse sinks. ``gen`` must uniquely identify
    the batch (the append_id rule); reusing a gen for a DIFFERENT
    batch is the caller's corruption. Fold equivalence with a
    from-scratch rebuild on the post-change corpus is pinned in
    tests/test_text_functions.py."""
    n_buckets = ledger_buckets(spark, table, "token", "term-stats ledger")
    fold_ledger(
        spark, changes, table, gen, _term_deltas, ["token"], _TS_SUMS, n_buckets
    )


def term_stats_cataloged(spark, table: str) -> DataFrame:
    """Live (token, df, tf) totals from the ledger: bucket-local
    groupBy-sum, tokens whose documents all died drop out."""
    return (
        net_ledger(
            spark.table(table).filter(F.col("token").isNotNull()),
            ["token"], ["d_df", "d_tf"],
        )
        .filter(F.col("d_df") > 0)
        .select("token", F.col("d_df").alias("df"), F.col("d_tf").alias("tf"))
    )


def token_doc_freq_cataloged(spark, table: str, top_k: int = 50) -> DataFrame:
    """:func:`token_doc_freq` served FROM the persisted ledger —
    byte-identical output for the corpus the ledger currently
    describes (same df_ppm integer discipline, same tie-break), so the
    live form's DuckDB oracle transfers unchanged to the maintained
    artifact."""
    total = (
        spark.table(table)
        .distinct()  # replay collapse
        .agg(F.sum("d_docs").alias("n_docs"))
    )
    return (
        term_stats_cataloged(spark, table)
        .crossJoin(F.broadcast(total))
        .withColumn(
            "df_ppm",
            F.floor(F.col("df") * 1000000.0 / F.col("n_docs")).cast("long"),
        )
        .drop("n_docs")
        .orderBy(F.desc("df"), F.desc("tf"), F.asc("token"))
        .limit(top_k)
    )


def compact_term_stats(spark, table: str) -> None:
    """Collapse an accumulated ledger back to a single generation-0
    base (live totals only, dead tokens dropped) — the maintenance
    rewrite that keeps read amplification bounded after many folds.
    Vocabulary-sized, never corpus-sized; crash-safe and replay-window
    truncating as ``generations.compact_ledger`` describes."""
    n_buckets = ledger_buckets(spark, table, "token", "term-stats ledger")
    compact_ledger(spark, table, ["token"], _TS_SUMS, n_buckets)
