"""Text-analysis operators: token stats, quality scoring, language ID,
document fingerprinting. All pure column expressions (JVM-side) with
DuckDB twins; no Python touches row data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash64_col, hash64_sql
from ..functions.text import (
    BPE_REGEX,
    QUALITY_STOPWORDS,
    lang_argmax_col,
    lang_id_sql,
    shingles_col,
    shingles_sql,
    stopword_hits_col,
    stopword_hits_sql,
    tokens_col,
    tokens_sql,
)


#: DuckDB twin of text_profile's token-stat columns (TX1): whitespace
#: and BPE-ish token counts and char length per doc.
TOKEN_STATS_SQL = f"""
select doc_id, length(text) as n_chars,
       len({tokens_sql('text')}) as n_tokens,
       len(regexp_extract_all(text, '{BPE_REGEX}')) as n_bpe_tokens,
       len(list_distinct({tokens_sql('text')})) as n_unique_tokens
from documents
"""


def _quality_exprs_from(text, n_tok, stop, uniq):
    """(stop_ratio, punct_ratio, uniq_ratio, score) from the three
    token-derived counts — THE single score formula, whether the
    counts arrive as raw expressions (:func:`_quality_ratio_exprs`) or
    as let-bound struct fields (:func:`quality_col`)."""
    n_chars = F.length(text)
    punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    safe_tok = F.greatest(n_tok, F.lit(1))
    stop_ratio = stop / safe_tok
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    uniq_ratio = uniq / safe_tok
    len_ok = (n_tok >= 10) & (n_tok <= 1000)
    score = (
        F.when(len_ok, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.25
        + (1 - F.least(punct_ratio * 10, F.lit(1.0))) * 0.25
        + uniq_ratio * 0.25
    )
    return stop_ratio, punct_ratio, uniq_ratio, score


def _quality_ratio_exprs(text):
    """(stop_ratio, punct_ratio, uniq_ratio, score) raw expressions
    over a text column — shared by quality_scores, text_profile, and
    the pipeline's inline quality filter."""
    tok = tokens_col(text)
    return _quality_exprs_from(
        text,
        F.size(tok),
        stopword_hits_col(tok, QUALITY_STOPWORDS),
        F.size(F.array_distinct(tok)),
    )


def quality_from_tokens(text, tok: Column) -> Column:
    """The heuristic quality score (rounded 6dp) over an ALREADY
    AVAILABLE token array — ``tok`` may be a raw expression (then
    bind it first, as :func:`quality_col` does) or a materialized
    attribute column (then references are cheap and no outer bind is
    needed: the r12 corpus_clean_stats staged projection). The three
    token-derived counts are still packed into one bound struct so
    each HOF evaluates once; identical arithmetic → bit-equal score."""
    from ..functions.text import bind_col

    fields = [
        F.size(tok).alias("n_tok"),
        stopword_hits_col(tok, QUALITY_STOPWORDS).alias("stop"),
        F.size(F.array_distinct(tok)).alias("uniq"),
    ]

    def score(s: Column) -> Column:
        _, _, _, raw = _quality_exprs_from(
            text, s["n_tok"], s["stop"], s["uniq"]
        )
        return F.round(raw.cast("double"), 6)

    return bind_col(F.struct(*fields), score)


def quality_col(text) -> Column:
    """The heuristic quality score (rounded 6dp) as a row-local
    column expression, for inline filtering without a join.

    Doubly let-bound (r11, functions/text.bind_col): the score formula
    references the token array ~6× (length gate, stop ratio, unique
    ratio) and HOF subtrees are outside codegen subexpression
    elimination, so the unbound form re-tokenized the document per
    reference. Tokens are bound once, the three token-derived counts
    once more via a struct (the shared :func:`quality_from_tokens`);
    identical arithmetic → bit-equal score."""
    from ..functions.text import bind_col

    return bind_col(
        tokens_col(text), lambda t: quality_from_tokens(text, t)
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality score from length / punctuation / stopword /
    repetition ratios — the standard cheap pre-filter for training
    corpora. All ratios rounded to 6dp for cross-engine stability."""
    stop_ratio, punct_ratio, uniq_ratio, score = _quality_ratio_exprs(
        F.col("text")
    )
    return docs.select(
        "doc_id",
        F.round(stop_ratio.cast("double"), 6).alias("stopword_ratio"),
        F.round(punct_ratio.cast("double"), 6).alias("punct_ratio"),
        F.round(uniq_ratio.cast("double"), 6).alias("unique_ratio"),
        F.round(score.cast("double"), 6).alias("quality"),
    )


def quality_scores_sql() -> str:
    tok = tokens_sql("text")
    stop = stopword_hits_sql("tok", QUALITY_STOPWORDS)
    return f"""
    with t as (
      select doc_id, text, {tok} as tok,
             len(regexp_extract_all(text, '[^\\w\\s]')) as punct
      from documents
    ), r as (
      select doc_id,
             {stop} * 1.0 / greatest(len(tok), 1) as stop_ratio,
             punct * 1.0 / greatest(length(text), 1) as punct_ratio,
             len(list_distinct(tok)) * 1.0 / greatest(len(tok), 1) as uniq_ratio,
             (case when len(tok) between 10 and 1000 then 0.25 else 0.0 end) as len_score
      from t
    )
    select doc_id,
           round(stop_ratio, 6) as stopword_ratio,
           round(punct_ratio, 6) as punct_ratio,
           round(uniq_ratio, 6) as unique_ratio,
           round(len_score
                 + least(stop_ratio * 5, 1.0) * 0.25
                 + (1 - least(punct_ratio * 10, 1.0)) * 0.25
                 + uniq_ratio * 0.25, 6) as quality
    from r
    """


#: DuckDB twin of text_profile's language-ID columns (TX3):
#: stopword-profile language with agreement flag against ``lang``.
LANG_ID_SQL = f"""
with t as (select doc_id, lang, {tokens_sql('text')} as tok from documents)
select doc_id, {lang_id_sql('tok')} as lang_pred, lang as lang_label,
       cast({lang_id_sql('tok')} = lang as int) as agree
from t
"""


def fingerprints(docs: DataFrame, k: int = 4, ngram: int = 8) -> DataFrame:
    """Winnowing-style document fingerprint: the ``k`` smallest hashes
    over character ``ngram``-grams (rolling-hash family — order-free,
    locally sensitive to edits). Emitted as a sorted array plus the
    distinct-gram count."""
    # substr with a dynamic start index is expressed via expr()
    grams = F.expr(
        f"transform(sequence(1, greatest(length(text) - {ngram - 1}, 1)), "
        f"i -> substr(text, i, {ngram}))"
    )
    hashes = F.array_distinct(F.transform(grams, lambda g: hash64_col(g, seed="fp")))
    topk = F.slice(F.array_sort(hashes), 1, k)
    return docs.select(
        "doc_id",
        topk.alias("fingerprint"),
        F.size(hashes).alias("n_grams"),
    )


def fingerprints_sql(k: int = 4, ngram: int = 8) -> str:
    h = hash64_sql("g", seed="fp")
    return f"""
    with t as (
      select doc_id,
             list_distinct(list_transform(
               list_transform(range(1, greatest(length(text) - {ngram - 1}, 1) + 1),
                              i -> substr(text, i, {ngram})),
               g -> {h})) as hashes
      from documents
    )
    select doc_id, list_slice(list_sort(hashes), 1, {k}) as fingerprint,
           len(hashes) as n_grams
    from t
    """


# ------------------------------------------------- PII scrubbing (TX5)

#: ASCII-subset patterns valid in BOTH Java regex (Spark) and RE2
#: (DuckDB) — no lookarounds, no \b differences, no unicode classes.
PII_PATTERNS = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+",
    "phone": r"[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}
PII_TOKEN = "<pii>"


def pii_scrub_sql() -> str:
    """DuckDB twin of text_profile's redaction columns (TX5): PII
    matches per class and the md5 of the redacted text. The patterns
    are in the Java∩RE2 regex subset so both engines agree bit for
    bit. Order matters: ssn before phone (their shapes overlap), the
    same sequence text_profile applies."""
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) as n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    redacted = "text"
    for name in ("ssn", "phone", "email"):
        redacted = (
            f"regexp_replace({redacted}, '{PII_PATTERNS[name]}', "
            f"'{PII_TOKEN}', 'g')"
        )
    return f"""
    select doc_id, {counts}, md5({redacted}) as redacted_md5
    from documents
    """


# ------------------------------------------------- repetition (TX6)

def max_run_count_col(grams):
    """Count of the most frequent element of an array column: sort,
    then one ``aggregate`` pass tracking the longest equal-run — no
    explode, no groupBy, no join. O(k log k) per row inside the JVM.
    THE single run-length rule — text_profile and the Gopher top-3
    ratio both call this."""
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
    )

    def merge(acc, x):
        run2 = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"),
            run2.alias("run"),
            F.greatest(acc["best"], run2).alias("best"),
        )

    return F.aggregate(F.array_sort(grams), init, merge, lambda acc: acc["best"])


def repetition_stats_sql(n: int = 2) -> str:
    """DuckDB twin of text_profile's repetition columns (TX6): the
    fraction of a doc's word ``n``-grams taken by the most frequent
    one, 0.0 over 0 grams for docs with fewer than one n-gram."""
    toks = tokens_sql("text")
    return f"""
    with t as (
      select doc_id, {toks} as tok from documents
    ),
    ex as (
      select doc_id, unnest({shingles_sql('tok', n)}) as g
      from t
    ),
    per_gram as (
      select doc_id, g, count(*) as c from ex group by doc_id, g
    ),
    per_doc as (
      select doc_id, max(c) as max_c, sum(c) as n_grams2
      from per_gram group by doc_id
    )
    select t.doc_id,
           cast(coalesce(per_doc.n_grams2, 0) as bigint) as n_bigrams,
           coalesce(per_doc.max_c * 1.0 / per_doc.n_grams2, 0.0)
             as top_bigram_ratio
    from t left join per_doc using (doc_id)
    """


# --------------------------------------------- Gopher quality rules (TX7)

#: Gopher's published document-quality bounds (Rae et al. 2021, public)
#: — word-count window, mean-word-length window, and the repetition
#: masses, here the WORD-level adaptation (the fixture corpus has no
#: newlines or symbols, so the line- and symbol-based rules would be
#: dead columns; they are one `split(text, '\n')` away when a corpus
#: carries them). A doc passes `gopher_ok` iff every bound holds.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_TOP3_RATIO = 0.18  # Gopher: top-3-gram mass > 0.18 -> remove
GOPHER_MAX_DUP5_MASS = 0.30  # word-level adaptation of dup-5-gram mass


def _dup_mass_col(grams: Column) -> Column:
    """Mass (count) of n-grams that occur MORE THAN ONCE in the row's
    gram multiset — sort once, then a single fold counts run lengths
    ≥ 2 (adding 2 when a run reaches length 2, 1 per further repeat).
    Row-local like max_run_count_col: no explode, no shuffle."""
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"), zero.alias("run"), zero.alias("dup")
    )

    def merge(acc, x):
        run2 = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        dup2 = (
            acc["dup"]
            + F.when(run2 == 2, F.lit(2))
            .when(run2 > 2, F.lit(1))
            .otherwise(F.lit(0)).cast("long")
        )
        return F.struct(x.alias("prev"), run2.alias("run"), dup2.alias("dup"))

    return F.aggregate(F.array_sort(grams), init, merge, lambda a: a["dup"])


def _gopher_arrays(tok: Column) -> Column:
    """Stage 1 of the Gopher pass: bind the token array ONCE (the
    shingles_col lambda-binding discipline) and emit every derived
    array/count as one struct — tokenize and each n-gram build happen
    exactly once per row. Without the bind, the measured cost at x10
    was 16× the single-pass bound (50.9 s vs 3.1 s): ``tok`` inlined
    ~8× and every gram array twice (size + fold)."""

    def build(t: Column) -> Column:
        return F.struct(
            F.size(t).cast("long").alias("n"),
            F.aggregate(
                t,
                F.lit(0).cast("long"),
                lambda acc, w: acc + F.length(w).cast("long"),
            ).alias("chars"),
            shingles_col(t, 3).alias("g3"),
            shingles_col(t, 5).alias("g5"),
            shingles_col(t, 2).alias("g2"),
        )

    return F.transform(F.array(tok), build)[0]


def _gopher_exprs(g: Column) -> tuple:
    """Stage 2: the Gopher rule set over the stage-1 struct (an
    ATTRIBUTE in the caller's second projection, so its ~10 field
    references are cheap and CollapseProject keeps the boundary —
    the struct evaluates once per row). Every ratio divides exact
    integer sums (IEEE-identical cross-engine); zero-token docs emit
    0-ratios and fail the flag without tripping ANSI division."""
    n = g["n"]
    mwl = F.when(n == 0, F.lit(0.0)).otherwise(g["chars"] / n)
    n3 = F.size(g["g3"]).cast("long")
    top3 = F.when(n3 <= 0, F.lit(0.0)).otherwise(
        max_run_count_col(g["g3"]) / n3
    )
    # the published flag term stays the 5-gram mass; the EMITTED mass
    # column is the 2-gram variant, which is live on natural corpora
    # AND this fixture (the 5-gram mass is identically zero on the
    # synthetic word-soup — a dead gate column; a planted repetitive
    # doc exercises the 5-gram term in pytest instead)
    n5 = F.size(g["g5"]).cast("long")
    dup5 = F.when(n5 <= 0, F.lit(0.0)).otherwise(_dup_mass_col(g["g5"]) / n5)
    n2 = F.size(g["g2"]).cast("long")
    dup2 = F.when(n2 <= 0, F.lit(0.0)).otherwise(_dup_mass_col(g["g2"]) / n2)
    ok = (
        n.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mwl.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (top3 <= GOPHER_MAX_TOP3_RATIO)
        & (dup5 <= GOPHER_MAX_DUP5_MASS)
    )
    return (
        n.alias("g_n_words"),
        mwl.alias("mean_word_len"),
        top3.alias("top_trigram_ratio"),
        dup2.alias("dup_2gram_mass"),
        ok.cast("int").alias("gopher_ok"),
    )


def gopher_stats(docs: DataFrame) -> DataFrame:
    """Gopher-rule quality statistics per document (TX7):
    ``(doc_id, g_n_words, mean_word_len, top_trigram_ratio,
    dup_2gram_mass, gopher_ok)`` — the published repetition/shape
    filter a pretraining pipeline runs between the TX2 heuristic
    score and an LM-based filter. One zero-shuffle projection (the
    TX6 row-local discipline: sorted-array folds, no explode)."""
    tok = F.coalesce(
        tokens_col(F.col("text")), F.array().cast("array<string>")
    )
    staged = docs.select("doc_id", _gopher_arrays(tok).alias("_g"))
    return staged.select("doc_id", *_gopher_exprs(F.col("_g")))


def gopher_stats_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`gopher_stats` — the grams are counted by
    brute-force group-by (the oracle form), the ratios divide the same
    exact integers."""
    toks = f"coalesce({tokens_sql('text')}, [])"
    return f"""
    with _gt as (
      select doc_id, {toks} as tok from {table}
    ),
    _g3 as (
      select doc_id, max(c) as max3, sum(c) as n3 from (
        select doc_id, g, count(*) as c from (
          select doc_id, unnest({shingles_sql('tok', 3)}) as g from _gt
        ) group by doc_id, g
      ) group by doc_id
    ),
    _g5 as (
      select doc_id,
             sum(case when c > 1 then c else 0 end) as dup5,
             sum(c) as n5
      from (
        select doc_id, g, count(*) as c from (
          select doc_id, unnest({shingles_sql('tok', 5)}) as g from _gt
        ) group by doc_id, g
      ) group by doc_id
    ),
    _g2 as (
      select doc_id,
             sum(case when c > 1 then c else 0 end) as dup2,
             sum(c) as n2
      from (
        select doc_id, g, count(*) as c from (
          select doc_id, unnest({shingles_sql('tok', 2)}) as g from _gt
        ) group by doc_id, g
      ) group by doc_id
    ),
    _gw as (
      select doc_id, cast(len(tok) as bigint) as n,
             cast(coalesce(list_sum(list_transform(tok, w -> len(w))), 0)
                  as bigint) as chars
      from _gt
    )
    select _gw.doc_id,
           _gw.n as g_n_words,
           case when _gw.n = 0 then 0.0
                else _gw.chars * 1.0 / _gw.n end as mean_word_len,
           coalesce(_g3.max3 * 1.0 / _g3.n3, 0.0) as top_trigram_ratio,
           coalesce(_g2.dup2 * 1.0 / _g2.n2, 0.0) as dup_2gram_mass,
           cast(
             _gw.n between {GOPHER_MIN_WORDS} and {GOPHER_MAX_WORDS}
             and (case when _gw.n = 0 then 0.0
                       else _gw.chars * 1.0 / _gw.n end)
                 between {GOPHER_MIN_MEAN_WORD_LEN}
                     and {GOPHER_MAX_MEAN_WORD_LEN}
             and coalesce(_g3.max3 * 1.0 / _g3.n3, 0.0)
                 <= {GOPHER_MAX_TOP3_RATIO}
             and coalesce(_g5.dup5 * 1.0 / _g5.n5, 0.0)
                 <= {GOPHER_MAX_DUP5_MASS}
           as int) as gopher_ok
    from _gw
    left join _g3 using (doc_id)
    left join _g5 using (doc_id)
    left join _g2 using (doc_id)
    """


# ------------------------------------------- combined profile (TX1-3,5,6)

def text_profile(docs: DataFrame) -> DataFrame:
    """Every per-document text analysis — token stats (TX1), quality
    ratios/score (TX2), language ID (TX3), PII counts + redacted md5
    (TX5), repetition (TX6) — as ONE projection over one scan.

    All eighteen output columns are row-local expressions, so the
    whole profile is zero-shuffle: the optimal 100 TB shape
    (scan-parallel, no exchange). The per-analysis ``*_sql`` twins
    above are its DuckDB oracle.

    Staged projections, deliberately: higher-order functions
    (``filter``/``transform``/``aggregate`` lambdas) are
    CodegenFallback — evaluated interpreted at EVERY occurrence, with
    no codegen subexpression elimination. The token array feeds ~12
    expressions; materializing it (and the n-gram array, and the five
    language scores) as intermediate alias columns makes each
    evaluate once per row. CollapseProject keeps the stages separate
    because the aliases are non-cheap and multiply referenced.

    r12: the three fixed projection lists are memoized per gateway
    (the _clean_pred pattern) — constructing them is ~1 s of py4j
    Column building re-paid on every fresh build of a profile query."""
    s1, s2, fin = _text_profile_exprs(_tp_gateway_key())
    return docs.select(*s1).select(*s2).select(*fin)


def _tp_gateway_key():
    from ..functions.caching import gateway_key

    return gateway_key()


import functools as _functools  # noqa: E402  (module-level memo below)


@_functools.lru_cache(maxsize=2)
def _text_profile_exprs(_gw):
    """The three staged projection lists of :func:`text_profile` as
    memoized unresolved Columns (immutable expression trees, resolved
    per-DataFrame at analysis — one instance serves every build in
    the process; keyed on the live gateway like _clean_pred)."""
    from ..functions.text import LANG_STOPWORDS, shingles_col

    tok = F.col("tok")
    stage1 = (
        "doc_id",
        F.col("lang").alias("lang_label"),
        "text",
        tokens_col(F.col("text")).alias("tok"),
    )
    lang_scores = [
        stopword_hits_col(tok, ws).alias(f"_s_{lang}")
        for lang, ws in LANG_STOPWORDS.items()
    ]
    stage2 = (
        "doc_id",
        "lang_label",
        "text",
        F.size(tok).alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_unique_tokens"),
        stopword_hits_col(tok, QUALITY_STOPWORDS).alias("_stop_hits"),
        shingles_col(tok, 2).alias("_grams"),
        *lang_scores,
    )
    # final projection: only cheap attrs + single-use expressions
    n_tok = F.col("n_tokens")
    safe_tok = F.greatest(n_tok, F.lit(1))
    n_chars = F.length("text")
    punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), 0))
    stop_ratio = F.col("_stop_hits") / safe_tok
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    uniq_ratio = F.col("n_unique_tokens") / safe_tok
    len_ok = (n_tok >= 10) & (n_tok <= 1000)
    score = (
        F.when(len_ok, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.25
        + (1 - F.least(punct_ratio * 10, F.lit(1.0))) * 0.25
        + uniq_ratio * 0.25
    )
    # argmax language over the materialized integer score columns —
    # cheap attr comparisons, so double reference (pred + agree) is
    # free; the tie-break rule is the shared lang_argmax_col
    scores = {lang: F.col(f"_s_{lang}") for lang in LANG_STOPWORDS}
    pred = lang_argmax_col(scores)
    pii_counts = [
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0)).alias(
            f"n_{name}"
        )
        for name, pat in PII_PATTERNS.items()
    ]
    redacted = F.col("text")
    for name in ("ssn", "phone", "email"):  # overlap-safe order
        redacted = F.regexp_replace(redacted, PII_PATTERNS[name], PII_TOKEN)
    grams = F.col("_grams")
    max_c = max_run_count_col(grams)
    total = F.size(grams).cast("long")
    final = (
        "doc_id",
        n_chars.alias("n_chars"),
        "n_tokens",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_REGEX), 0)).alias(
            "n_bpe_tokens"
        ),
        "n_unique_tokens",
        F.round(stop_ratio.cast("double"), 6).alias("stopword_ratio"),
        F.round(punct_ratio.cast("double"), 6).alias("punct_ratio"),
        F.round(uniq_ratio.cast("double"), 6).alias("unique_ratio"),
        F.round(score.cast("double"), 6).alias("quality"),
        pred.alias("lang_pred"),
        "lang_label",
        (pred == F.col("lang_label")).cast("int").alias("agree"),
        *pii_counts,
        F.md5(redacted).alias("redacted_md5"),
        F.size(grams).cast("long").alias("n_bigrams"),
        F.when(total == 0, F.lit(0.0))
        .otherwise(max_c / total)
        .alias("top_bigram_ratio"),
    )
    return stage1, stage2, final


#: Word n-gram order for the cross-document duplicated-span signal
#: (public exact-substring dedup work uses ~50 BPE tokens; 5 words
#: here because the synthetic docs are ~50 words long).
SPAN_N = 5


def dup_span_stats(docs: DataFrame, n: int = SPAN_N) -> DataFrame:
    """Cross-document duplicated-span signal — the word-n-gram
    approximation of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    public): per document, the fraction of its n-gram POSITIONS
    (instances, not distinct grams) whose n-gram also occurs in at
    least one OTHER document. High fractions mark boilerplate and
    partially-copied docs that document-level exact/near dedup
    misses.

    Scale shape: two aggregations with map-side combine — (doc, gram)
    instance counts, then gram → containing-doc counts — and a join
    back on the gram key. No pair materialization anywhere: cost is
    linear in corpus token count, the same plan at 100 TB. Hot grams
    (stopword runs) concentrate on few keys; the first-level partial
    aggregate absorbs them before the shuffle, AQE handles the rest.
    """
    grams = docs.select(
        "doc_id",
        F.explode(shingles_col(tokens_col(F.col("text")), n)).alias("ng"),
    )
    per = grams.groupBy("doc_id", "ng").agg(F.count(F.lit(1)).alias("cnt"))
    gdocs = per.groupBy("ng").agg(F.count(F.lit(1)).alias("n_docs"))
    agg = (
        per.join(gdocs, "ng")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_span_grams"),
            F.sum(F.when(F.col("n_docs") > 1, F.col("cnt")).otherwise(0)).alias(
                "dup_positions"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_span_grams", F.lit(0)).alias("n_span_grams"),
            F.when(F.coalesce("n_span_grams", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.col("dup_positions") / F.col("n_span_grams"))
            .alias("dup_span_frac"),
        )
    )


def dup_span_sql(n: int = SPAN_N) -> str:
    ng = shingles_sql(tokens_sql("text"), n)
    return f"""
    with grams as (
      select doc_id, unnest({ng}) as ng from documents
    ),
    per as (
      select doc_id, ng, count(*) as cnt from grams group by doc_id, ng
    ),
    gdocs as (
      select ng, count(*) as n_docs from per group by ng
    ),
    agg as (
      select per.doc_id,
             cast(sum(per.cnt) as bigint) as n_span_grams,
             cast(sum(case when gdocs.n_docs > 1 then per.cnt else 0 end)
                  as bigint) as dup_positions
      from per join gdocs using (ng)
      group by per.doc_id
    )
    select d.doc_id,
           coalesce(agg.n_span_grams, 0) as n_span_grams,
           case when coalesce(agg.n_span_grams, 0) = 0 then 0.0
                else agg.dup_positions / cast(agg.n_span_grams as double)
           end as dup_span_frac
    from documents d left join agg using (doc_id)
    """
