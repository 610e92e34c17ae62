"""BM25 ranked keyword retrieval over the corpus — the query-time
counterpart of the TF1 term statistics (find the documents most
relevant to a keyword query), and the standard lexical scorer for
training-data curation ("pull the docs most similar to this seed
prompt set") next to the embedding tier's semantic top-k.

Scoring is Robertson/Sparck-Jones BM25 (public):

    score(d, q) = Σ_{t ∈ q} idf(t) · tf(t,d)·(k1+1)
                              / (tf(t,d) + k1·(1 − b + b·dl(d)/avgdl))
    idf(t)      = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))

Cross-engine exactness discipline (the df_ppm/DSIR rule): ``ln`` is
the ONLY non-correctly-rounded operation in the formula, so idf is
quantized ONCE per query term to integer micro-nats — ≤ |query
vocabulary| floor(ln) calls per run. Everything downstream is IEEE
correctly-rounded arithmetic over identical inputs in an identical
operation order, so the per-(doc, term) contribution
``floor(idf_unat · tf_norm)`` is bit-identical on Spark and DuckDB
(no transcendental involved — a float boundary hit is impossible, not
just unlikely), and per-(query, doc) scores are EXACT INTEGER sums —
order-free, no float-fold gymnastics.

Scale shape (the part that matters at 100 TB):

- the corpus is tokenized ONCE; the exploded token stream is
  immediately semi-joined against the BROADCAST query vocabulary, so
  everything past the scan is postings-sized (docs × matched terms),
  not corpus-sized;
- per-(doc, term) tf collapses occurrences before any further join
  (the house TF2 pattern);
- df/idf live in a query-vocabulary-sized frame (broadcast), corpus
  totals (N, Σdl) ride a broadcast one-row cross join;
- the final top-k is a window partitioned by query_id — bounded by
  the query count, the same per-query shape as knn_bruteforce.

No reference counterpart (SURVEY §2.11 TF3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.caching import plan_cache
from ..functions.text import tokens_col, tokens_sql
from ..sources.generations import (
    fold_ledger,
    ledger_buckets,
    net_ledger,
    write_ledger,
)

#: canonical BM25 constants. Both literals parse to the identical
#: IEEE double in the JVM and DuckDB (correctly-rounded decimal
#: parsing on both), so spelling them in generated SQL is exact.
K1 = 1.2
B = 0.75


def _query_terms(queries: dict[int, str]) -> list[tuple[int, str]]:
    """Distinct terms per query via ``functions.text.py_tokens`` —
    the exact fold AND whitespace class of the corpus tokenizer (one
    shared definition, so query terms can never tokenize differently
    from the documents they search). qtf is clamped to 1 — the common
    simplification; a repeated query word does not double-count.
    Deterministic order."""
    from ..functions.text import py_tokens

    out = []
    for qid, text in sorted(queries.items()):
        seen = set()
        for tok in py_tokens(text):
            if tok not in seen:
                seen.add(tok)
                out.append((qid, tok))
        if not seen:
            # A whitespace-only query would be silently absent from
            # the ranking, which a caller can misread as "no matches".
            raise ValueError(
                f"query {qid} tokenizes to zero tokens ({text!r})"
            )
    return out


def _sql_str(s: str) -> str:
    """SQL string literal with quotes escaped — a query term
    containing an apostrophe must not break (or inject into) the
    generated oracle SQL."""
    return "'" + s.replace("'", "''") + "'"


def bm25_topk(
    docs: DataFrame,
    queries: dict[int, str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-``k`` documents per query by BM25, as
    ``(query_id, doc_id, rank, score_unat, n_terms_hit)`` —
    ``score_unat`` the exact-integer micro-nat score described in the
    module docstring. Documents matching none of a query's terms are
    (correctly) absent. Ties break on doc_id ascending."""
    spark = docs.sparkSession
    qt = _query_terms(queries)
    if not qt:
        raise ValueError("queries must contain at least one token")
    qterms = spark.createDataFrame(qt, "query_id int, token string")
    vocab = sorted({t for _, t in qt})

    # tokenize ONCE: both the postings branch and the corpus-totals
    # branch read this cached token-array projection — without the
    # cache boundary, CollapseProject inlines the regex split into
    # every consumer and the corpus pays 2-3 full tokenize passes
    # (the only corpus-scale CPU in this operator)
    tokd = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("_toks")
    ).transform(plan_cache)
    toks = tokd.select(
        "doc_id",
        F.size("_toks").alias("_dl"),
        F.explode("_toks").alias("token"),
    )
    # postings-sized from here on: only query-vocabulary tokens pass
    posting = (
        toks.filter(F.col("token").isin(vocab))
        .groupBy("doc_id", "_dl", "token")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .transform(plan_cache)
    )
    stats = tokd.agg(
        F.count(F.lit(1)).alias("_N"),
        F.coalesce(F.sum(F.size("_toks")), F.lit(0)).alias("_R"),
    )
    return _score_postings(posting, stats, qterms, k, k1, b)


def _score_postings(
    posting: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Shared BM25 scoring tail over a matched-postings frame
    ``(doc_id, _dl, token, _tf)`` + a one-row totals frame
    ``(_N, _R)`` — the live and indexed forms differ only in where
    the postings come from."""
    # idf per matched term, quantized to integer micro-nats — the one
    # transcendental, vocabulary-sized
    dfreq = posting.groupBy("token").agg(
        F.count(F.lit(1)).alias("_df")
    )
    weights = dfreq.crossJoin(F.broadcast(stats)).select(
        "token",
        "_N",
        "_R",
        F.floor(
            F.lit(1000000.0)
            * F.log(
                F.lit(1.0)
                + (F.col("_N").cast("double") - F.col("_df").cast("double") + F.lit(0.5))
                / (F.col("_df").cast("double") + F.lit(0.5))
            )
        )
        .cast("long")
        .alias("_idf_unat"),
    )
    # per-(doc, term) contribution: pure correctly-rounded arithmetic
    # over identical inputs — floor is bit-safe (no transcendental).
    # dl/avgdl is computed as (dl·N)/R: two exact-int casts, one
    # multiply, one divide — the canonical op order the SQL twin
    # mirrors token for token.
    tf = F.col("_tf").cast("double")
    dl_ratio = (
        F.col("_dl").cast("double") * F.col("_N").cast("double")
    ) / F.col("_R").cast("double")
    tf_norm = (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl_ratio)
    )
    contribs = posting.join(F.broadcast(weights), "token").select(
        "doc_id",
        "token",
        F.floor(F.col("_idf_unat").cast("double") * tf_norm)
        .cast("long")
        .alias("_c"),
    )
    scored = (
        contribs.join(F.broadcast(qterms), "token")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("_c").alias("score_unat"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_unat"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score_unat", "n_terms_hit")
    )


#: Corpus-total sentinel rows live IN the ledger under a WHITESPACE
#: token — the tokenizer splits on whitespace, so no real token can
#: ever collide (the BPE EOW argument), the totals ride the SAME
#: atomic append as the postings (no torn two-table fold — the TS1
#: null-token-row design), and the stats read is a bucket-pruned
#: equality filter. doc_id routes the two totals.
STATS_TOKEN = "\n"
_STATS_N_DOCS = 0  # sentinel doc_id carrying the signed doc count
_STATS_TOTAL_TOKENS = 1  # sentinel doc_id carrying signed Σ dl
_POSTING_KEYS = ["token", "doc_id", "dl"]


def _index_rows(docs: DataFrame, sign: int) -> tuple[DataFrame, DataFrame]:
    """(signed index rows ``(token, doc_id, dl, tf)`` — postings ∪
    the two totals sentinels — , the cached token projection to
    unpersist after the write). ONE tokenize pass feeds postings AND
    totals. The cache is a bare ``.cache()`` (NOT the tracked
    plan_cache): the caller's try/finally unpersist is its whole
    lifecycle, so a long-lived maintenance session accumulates
    neither blocks nor tracking entries — caching.py's own guidance
    for narrow-scope caches."""
    tokd = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("_toks")
    ).cache()
    postings = tokd.select(
        "doc_id",
        F.size("_toks").alias("dl"),
        F.explode("_toks").alias("token"),
    ).groupBy("token", "doc_id", "dl").agg(
        (F.lit(sign) * F.count(F.lit(1))).cast("long").alias("tf")
    )
    sentinels = tokd.agg(
        (F.lit(sign) * F.count(F.lit(1))).cast("long").alias("_n"),
        (F.lit(sign) * F.coalesce(F.sum(F.size("_toks")), F.lit(0)))
        .cast("long")
        .alias("_r"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(STATS_TOKEN).alias("token"),
                    F.lit(_STATS_N_DOCS).cast("long").alias("doc_id"),
                    F.lit(0).alias("dl"),
                    F.col("_n").alias("tf"),
                ),
                F.struct(
                    F.lit(STATS_TOKEN).alias("token"),
                    F.lit(_STATS_TOTAL_TOKENS).cast("long").alias("doc_id"),
                    F.lit(0).alias("dl"),
                    F.col("_r").alias("tf"),
                ),
            )
        ).alias("_s")
    ).select("_s.*")
    return postings.unionByName(sentinels), tokd


def write_postings_index(
    docs: DataFrame, table: str, table_buckets: int = 16
) -> None:
    """Persist the FULL inverted index — signed rows
    ``(token, doc_id, dl, tf, gen)`` hash-bucketed on token, gen 0 =
    the base build, corpus totals as in-ledger sentinel rows (see
    ``STATS_TOKEN``) — the build-once/query-many form of BM25 serving
    (the lexical mirror of write_ivf_index). One tokenize pass, ONE
    atomic table append; every later query reads only its terms'
    buckets, and :func:`apply_changes_to_postings_index` folds daily
    change-feed batches at batch cost (postings are per-(token, doc)
    additive under signed deltas — the TS1/SM3 ledger discipline)."""
    from ..sources.lakehouse import drop_table_and_orphan

    # migrate cleanly over the retired two-table layout: a stale
    # side table must not keep serving the OLD corpus's totals to
    # anything still reading it
    drop_table_and_orphan(docs.sparkSession, f"{table}_stats")
    rows, tokd = _index_rows(docs, 1)
    try:
        write_ledger(rows, table, "token", table_buckets)
    finally:
        tokd.unpersist()


def apply_changes_to_postings_index(
    spark, changes: DataFrame, table: str, gen: int
) -> None:
    """Fold one change-feed batch (``read_changes`` vocabulary over a
    ``(doc_id, text, …)`` table) into the postings index: deletes and
    update pre-images append NEGATIVE rows, inserts and post-images
    positive ones, netted per (token, doc) — including the totals
    sentinels, which net in the same aggregate and land in the SAME
    atomic append (no torn postings-vs-stats window). Cost is
    batch-sized end-to-end — the index is never read. Replays
    collapse (full-row distinct per gen at read, the TS1 rule);
    ``gen`` must uniquely identify the batch."""
    table_buckets = ledger_buckets(spark, table, "token", "postings index")
    # refuse to fold into an old-layout/foreign table: without base
    # sentinels the delta-only totals would serve wrong idf silently
    # (the check is one bucket-pruned scan of the sentinel bucket)
    if (
        spark.table(table)
        .filter(F.col("token") == STATS_TOKEN)
        .limit(1)
        .count()
        == 0
    ):
        raise ValueError(
            f"{table} has no totals sentinels — not a (current-layout) "
            "postings index; rebuild with write_postings_index"
        )
    held = []

    def deltas(docs: DataFrame, sign: int) -> DataFrame:
        rows, tokd = _index_rows(docs, sign)
        held.append(tokd)
        return rows

    try:
        fold_ledger(
            spark, changes, table, gen, deltas,
            _POSTING_KEYS, ["tf"], table_buckets,
        )
    finally:
        for tokd in held:
            tokd.unpersist()


def bm25_topk_indexed(
    spark,
    table: str,
    queries: dict[int, str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Serve BM25 from the PERSISTED postings index: the query-term
    IN-filter prunes the token-bucketed table to the query terms'
    buckets (SelectedBucketsCount — plan-pinned in
    tests/test_retrieval.py), so query cost tracks the matched
    postings, never the corpus; corpus totals come from the
    in-ledger ``STATS_TOKEN`` sentinel rows (their read is itself a
    bucket-pruned equality filter), and a table WITHOUT sentinels —
    e.g. not actually a postings index — raises at execution instead
    of silently serving NULL-scored rows. Bit-identical to
    :func:`bm25_topk` on the indexed corpus (pytest-pinned) — same
    scoring tail, same integer micro-nat discipline."""
    qt = _query_terms(queries)
    if not qt:
        raise ValueError("queries must contain at least one token")
    qterms = spark.createDataFrame(qt, "query_id int, token string")
    vocab = sorted({t for _, t in qt})
    # deliberately NOT plan-cached: the scoring tail reads this twice
    # (df aggregate + contribution join), but both reads are
    # bucket-PRUNED scans of a persisted table — cheap IO — while a
    # cache here would accumulate one tracked entry per query for the
    # life of a serving session (releases only happen at registry
    # build boundaries, which a direct serving loop never crosses).
    # The ledger read nets signed generations per (token, doc) —
    # distinct = replay collapse, the net = bucket-local (both ride
    # the token bucket spec); a doc deleted by a fold nets to tf <= 0
    # and drops here.
    posting = (
        net_ledger(
            spark.table(table).filter(F.col("token").isin(vocab)),
            _POSTING_KEYS, ["tf"],
        )
        .filter(F.col("tf") > 0)
        .select(
            "doc_id", F.col("dl").alias("_dl"), "token", F.col("tf").alias("_tf")
        )
    )
    # corpus totals from the in-ledger sentinel rows: a bucket-pruned
    # EQUALITY filter (STATS_TOKEN is whitespace — no real token can
    # reach its bucket key), netted across generations like postings.
    # Spark's sum over ZERO rows is NULL — a table with no sentinels
    # (not a current-layout postings index) must raise, not serve
    # NULL-scored rows ranked by doc_id
    def _loud(col: str, alias: str):
        return (
            F.when(
                F.col(col).isNull(),
                F.raise_error(
                    F.lit(
                        f"bm25_topk_indexed: no totals sentinels in "
                        f"{table} — not a (current-layout) postings index"
                    )
                ).cast("long"),
            )
            .otherwise(F.col(col))
            .alias(alias)
        )

    stats = (
        spark.table(table)
        .filter(F.col("token") == STATS_TOKEN)
        .distinct()
        .agg(
            F.sum(
                F.when(F.col("doc_id") == _STATS_N_DOCS, F.col("tf"))
            ).alias("_n0"),
            F.sum(
                F.when(F.col("doc_id") == _STATS_TOTAL_TOKENS, F.col("tf"))
            ).alias("_r0"),
        )
        .select(_loud("_n0", "_N"), _loud("_r0", "_R"))
    )
    return _score_postings(posting, stats, qterms, k, k1, b)


def bm25_topk_sql(
    queries: dict[int, str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`bm25_topk` — same tokenization, same
    micro-nat idf quantization, same operation order in the
    contribution arithmetic."""
    qt = _query_terms(queries)
    if not qt:
        raise ValueError("queries must contain at least one token")
    qrows = ", ".join(f"({qid}, {_sql_str(t)})" for qid, t in qt)
    vocab = ", ".join(_sql_str(t) for t in sorted({t for _, t in qt}))
    return f"""
    with _q(query_id, token) as (values {qrows}),
    _tok as (
      select doc_id, len({tokens_sql('text')}) as _dl,
             unnest({tokens_sql('text')}) as token
      from {table}
    ),
    _post as (
      select doc_id, _dl, token, cast(count(*) as bigint) as _tf
      from _tok where token in ({vocab})
      group by doc_id, _dl, token
    ),
    _stats as (
      select cast(count(*) as bigint) as _N,
             cast(coalesce(sum(len({tokens_sql('text')})), 0) as bigint) as _R
      from {table}
    ),
    _w as (
      select token, _N, _R,
             cast(floor(1000000.0 * ln(
               1.0 + (_N::double - _df::double + 0.5) / (_df::double + 0.5)
             )) as bigint) as _idf_unat
      from (select token, cast(count(*) as bigint) as _df
            from _post group by token)
      cross join _stats
    ),
    _c as (
      select p.doc_id, p.token,
             cast(floor(w._idf_unat::double *
               ((p._tf::double * {k1 + 1.0!r}) /
                (p._tf::double + {k1!r} * ({1.0 - b!r} + {b!r} *
                  ((p._dl::double * w._N::double) / w._R::double))))
             ) as bigint) as _c
      from _post p join _w w using (token)
    ),
    _s as (
      select q.query_id, c.doc_id,
             cast(sum(c._c) as bigint) as score_unat,
             cast(count(*) as bigint) as n_terms_hit
      from _c c join _q q using (token)
      group by q.query_id, c.doc_id
    )
    select query_id, doc_id, rank, score_unat, n_terms_hit
    from (
      select *, cast(row_number() over (
                  partition by query_id
                  order by score_unat desc, doc_id
                ) as int) as rank
      from _s
    ) where rank <= {k}
    """


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Hybrid-search fusion by Reciprocal Rank Fusion (Cormack,
    Clarke & Buettcher 2009, public — the standard way to combine a
    lexical and a semantic ranking without score calibration):
    ``rrf(d) = Σ_lists 1/(c + rank_list(d))``, docs missing from one
    list simply contribute nothing for it. Inputs are any two
    ``(query_id, doc_id, rank)`` frames (bm25_topk and an ANN top-k
    renamed to doc_id, typically); output
    ``(query_id, doc_id, rank, rrf_score_nano)`` top-``k`` per query.

    Exactness: each contribution is ``1_000_000_000 div (c + rank)``
    — TRUE integer division (Spark ``div`` / DuckDB ``//`` / Python
    ``//``), not floor-of-double (whose rounding can land one above
    the integer quotient once c+rank nears 1e8) — so fused scores are
    exact integer sums, deterministic across engines and runs; ties
    break on doc_id. Ranks are validated declaratively: a NULL, zero,
    or negative rank raises at execution instead of silently
    corrupting the fusion (a NULL contribution would be dropped by
    sum, scoring a both-lists doc as if it appeared once). Scale: a
    union of two already-top-k-sized frames, one tiny groupBy, one
    query-partitioned window — nothing corpus-sized."""
    if c < 1:
        raise ValueError(f"c must be >= 1, got {c}")
    contrib = F.when(
        F.col("rank") >= 1,
        F.expr(f"1000000000L div ({c}L + cast(rank as long))"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("rrf_fuse: rank must be >= 1, got "),
                F.coalesce(F.col("rank").cast("string"), F.lit("NULL")),
            )
        ).cast("long")
    )
    both = ranked_a.select("query_id", "doc_id", "rank").unionByName(
        ranked_b.select("query_id", "doc_id", "rank")
    )
    fused = (
        both.select("query_id", "doc_id", contrib.alias("_c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_c").alias("rrf_score_nano"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score_nano"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "rrf_score_nano")
    )
