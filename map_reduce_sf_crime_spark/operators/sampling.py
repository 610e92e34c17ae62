"""Deterministic stratified sampling — per-stratum keep rates applied
with the portable seeded hash, the corpus-mixture step of a training
pipeline ("90% of English, 25% of zh, 10% of everything else").

``kept`` is a pure function of ``(seed, doc_id)``: reproducible across
runs, engines, and cluster sizes — no RNG state, no partition
sensitivity (the classic failure of ``df.sample`` for corpus builds is
that it resamples differently per execution plan). A 100 TB scan
applies it as a codegen'd filter with zero shuffle; changing the
mixture is a metadata-only change.

No reference counterpart (SURVEY §2.11 SM1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import HEX_DIGITS, hash64_col, hash64_sql
from ..functions.caching import plan_cache

#: per-mille keep rates by language stratum; default applies to any
#: stratum not listed (forward-compatible with new corpus languages)
MIXTURE_RATES = {"en": 900, "de": 500, "es": 500, "fr": 500, "zh": 250}
DEFAULT_RATE = 100
SAMPLE_SEED = "sample"


def _rate_col(rates: dict[str, int], default: int) -> Column:
    whens = [F.when(F.col("lang") == k, F.lit(v)) for k, v in rates.items()]
    return F.coalesce(*whens, F.lit(default))


def stratified_sample_flags(
    docs: DataFrame,
    rates: dict[str, int] = MIXTURE_RATES,
    default: int = DEFAULT_RATE,
    seed: str = SAMPLE_SEED,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc sampling decision: (doc_id, lang, kept). ``carry``
    names extra input columns to pass through — a composed pipeline
    (corpus_sample) keeps its downstream inputs on the SAME projection
    instead of re-scanning the corpus and joining on doc_id later."""
    h = F.pmod(
        hash64_col(F.col("doc_id").cast("string"), seed=seed), F.lit(1000)
    )
    return docs.select(
        "doc_id",
        "lang",
        *carry,
        (h < _rate_col(rates, default)).cast("int").alias("kept"),
    )


def temperature_mix_weights(docs: DataFrame) -> DataFrame:
    """Temperature-balanced corpus mixture weights (UniMax-style,
    public) at temperature α=0.5: per-language weight ∝ √(corpus
    share), damping head languages and boosting the tail — the
    data-derived counterpart of MIXTURE_RATES' hand-set per-mille
    table. Returns (lang, mix_weight_ppm), weights summing to ≤1e6.

    α is fixed at 0.5 deliberately: √ is IEEE-correctly-rounded on
    every engine while ``pow``/``ln`` are not (they diverge in the
    last ulp between the JVM and DuckDB), and the cross-language
    total folds a lang-sorted list sequentially — the same
    fold-order discipline as the cosine kernel — so the oracle
    hash-matches bit-for-bit.

    Scale shape: one count-aggregate over the corpus (map-side
    combined, #languages rows out — cached, since both the total fold
    and the weight projection read it; without the cache the corpus
    would be scanned twice), a driver-free fold over that tiny
    aggregate, and a broadcast join back."""
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_lang")
    ).transform(plan_cache)
    # Fold order must match the oracle's sort exactly: a NULL lang
    # would sort FIRST in Spark's sort_array but LAST in DuckDB's
    # list(... order by lang), permuting the float summation and
    # potentially flipping floor() one ulp — so both engines fold over
    # the ''-coalesced key. The sort is TOTAL on both sides: Spark's
    # struct comparison falls through to n_lang, and the SQL orders by
    # (coalesce(lang,''), n_lang) — covering the corner where a NULL
    # and a literal-'' stratum coexist with different counts.
    tot = counts.agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
                        "n_lang",
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, s: acc + F.sqrt(s["n_lang"].cast("double")),
        ).alias("tot")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.floor(
            F.lit(1000000.0)
            * F.sqrt(F.col("n_lang").cast("double"))
            / F.col("tot")
        )
        .cast("long")
        .alias("mix_weight_ppm"),
    )


MIX_WEIGHT_SQL = """
with c as (select lang, count(*) as n_lang from documents group by lang),
t as (select list_sum(list_transform(
            list(n_lang order by coalesce(lang, ''), n_lang),
            x -> sqrt(x::double))) as tot from c)
select lang,
       cast(floor(1000000.0 * sqrt(n_lang::double) / t.tot) as bigint)
         as mix_weight_ppm
from c cross join t
"""


def token_budget_quotas(
    weights: DataFrame,
    budget: int,
    weight_col: str = "mix_weight_ppm",
    key_col: str = "lang",
) -> DataFrame:
    """EXACT integer apportionment of a global token budget across
    strata by weight — the "how many tokens of each source does this
    data recipe actually get" step between the mixture weights (MX1)
    and shard export. Largest-remainder (Hamilton) method, public and
    the standard way to make integer quotas sum EXACTLY to the
    budget: each stratum takes ``floor(budget·w/Σw)``, and the
    leftover (< #strata) goes one token to each of the largest
    remainders, ties broken on the stratum key.

    Exactness: ``budget·w`` stays in int64 for ppm-scale weights and
    budgets to ~9e12; integer div/mod are identical on both engines,
    so quotas are bit-identical cross-engine and Σ quota == budget is
    a structural invariant (pytest-pinned alongside a python mirror).

    Scale shape: everything is STRATA-sized — one broadcast totals
    join, one window over #strata rows. Returns
    ``(key_col, token_quota)``. An all-zero weight table makes the
    ``div Σw`` a division by zero, which ANSI mode (Spark 4's
    default) RAISES loudly at execution — as does DuckDB's ``//`` —
    matching the loud-guard discipline without a driver-side count
    job."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    tot = weights.agg(F.sum(weight_col).alias("_tw"))
    based = weights.crossJoin(F.broadcast(tot)).select(
        key_col,
        F.expr(f"{weight_col} * {budget}L div _tw").alias("_floor"),
        F.expr(f"({weight_col} * {budget}L) % _tw").alias("_rem"),
    )
    alloc = based.crossJoin(
        F.broadcast(based.agg((budget - F.sum("_floor")).alias("_left")))
    )
    w = Window.orderBy(F.desc("_rem"), F.asc(key_col))
    return (
        alloc.withColumn("_rk", F.row_number().over(w))
        .select(
            key_col,
            (
                F.col("_floor")
                + (F.col("_rk") <= F.col("_left")).cast("long")
            ).alias("token_quota"),
        )
    )


def token_budget_quotas_sql(
    budget: int,
    weights_sql: str,
    weight_col: str = "mix_weight_ppm",
    key_col: str = "lang",
) -> str:
    """DuckDB twin of :func:`token_budget_quotas` — same integer
    div/mod, same largest-remainder rule, same tie-break."""
    return f"""
    with _tbw as ({weights_sql}),
    _tbt as (select sum({weight_col}) as _tw from _tbw),
    _tbb as (
      select {key_col},
             ({weight_col} * {budget}) // _tw as _floor,
             ({weight_col} * {budget}) % _tw as _rem
      from _tbw cross join _tbt
    ),
    _tbl as (select {budget} - sum(_floor) as _left from _tbb)
    select {key_col},
           cast(_floor + (case when row_number() over (
                    order by _rem desc, {key_col}) <= _left
                  then 1 else 0 end) as bigint) as token_quota
    from _tbb cross join _tbl
    """


SHUFFLE_SEED = "shuffle"


def _default_buckets(df: DataFrame) -> int:
    """Next power of two ≥ 4× the cluster parallelism (floor 64):
    each bucket is one sort task, so the count follows the cluster,
    and because buckets are CONTIGUOUS hash ranges the emitted
    positions are identical for ANY power-of-two choice — sizing is
    a pure performance knob, not a semantics knob."""
    p = df.sparkSession.sparkContext.defaultParallelism * 4
    return max(64, 1 << (p - 1).bit_length())


def with_global_shuffle_pos(
    df: DataFrame,
    key: str = "doc_id",
    seed: str = SHUFFLE_SEED,
    buckets: int | None = None,
) -> DataFrame:
    """Append ``shuffle_pos``: the row's 0-based position in a
    deterministic pseudorandom global order (seeded-hash order,
    key-tiebroken) — the "shuffle the corpus into training order"
    operator, reproducible across runs, engines, and cluster sizes.

    A naive ``row_number() over (order by hash)`` is a SINGLE-PARTITION
    window — the whole corpus through one task. This is the scalable
    two-phase form of the same semantics:

    1. range-bucket each row by the hash's top bits (buckets are
       CONTIGUOUS hash ranges, so bucket order == hash order; the
       60-bit hash is uniform, so buckets are balanced — no sampled
       range boundaries needed),
    2. rank within each bucket (distributed window, one sort per
       bucket), and compute each bucket's global offset from the
       per-bucket counts — a ``buckets``-row aggregate whose own
       window is bounded by the bucket count, never by data size,
    3. broadcast-join the offsets back: pos = offset + local_rank - 1.

    Equivalent to zipWithIndex-after-sort without leaving the
    DataFrame API."""
    if buckets is None:
        buckets = _default_buckets(df)
    if buckets & (buckets - 1):
        raise ValueError("buckets must be a power of two")
    shift = HEX_DIGITS * 4 - buckets.bit_length() + 1
    # NULL-proof the hash input: md5(NULL) is NULL, which would give a
    # NULL bucket whose rows silently vanish through the offsets join
    # while the oracle's window keeps them. NULL keys coalesce to ''
    # (oracle twin does the same); rows sharing that sentinel get an
    # arbitrary-but-present relative order, same as in SQL.
    h = hash64_col(
        F.coalesce(F.col(key).cast("string"), F.lit("")), seed=seed
    )
    hashed = df.withColumn("_h", h).withColumn(
        "_bucket", F.shiftright(F.col("_h"), shift)
    )
    # Tie-break on the SAME NULL-coalesced string as the hash input:
    # Spark sorts NULLs first, DuckDB last, so ordering by the raw key
    # would give >1 NULL-key rows (all hashing the '' sentinel, hence
    # tied on _h) an engine-divergent relative order. CONTRACT: full
    # run-to-run/engine determinism requires distinct (hash, key)
    # pairs — i.e. unique keys; rows that tie on BOTH columns
    # (duplicate keys, >1 NULL key) occupy a deterministic contiguous
    # block of positions but their order within it is arbitrary (no
    # further column exists to totalize the sort). The positions
    # OUTSIDE the tied block are unaffected either way.
    local = F.row_number().over(
        Window.partitionBy("_bucket").orderBy(
            "_h", F.coalesce(F.col(key).cast("string"), F.lit(""))
        )
    )
    counts = hashed.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("_bucket", "_off")
    return (
        hashed.withColumn("_r", local)
        .join(F.broadcast(offsets), "_bucket")
        .withColumn("shuffle_pos", (F.col("_off") + F.col("_r") - 1))
        .drop("_h", "_bucket", "_r", "_off")
    )


def global_shuffle_pos_sql(
    inner_sql: str, key: str = "doc_id", seed: str = SHUFFLE_SEED
) -> str:
    """DuckDB twin: the single-window form (fine for an oracle; the
    Spark side exists precisely because this shape doesn't scale)."""
    h = hash64_sql(f"coalesce({key}::varchar, '')", seed=seed)
    return f"""
    select *, row_number() over (order by {h}, coalesce({key}::varchar, ''))
              - 1 as shuffle_pos
    from ({inner_sql})
    """


def with_prefix_sum(
    df: DataFrame,
    part_col: str,
    order_col: str,
    val_col: str,
    out_col: str = "prefix_sum",
    buckets: int | None = None,
) -> DataFrame:
    """Distributed INCLUSIVE running total per partition key:
    ``out = Σ val over rows of the same part_col with order_col ≤
    this row's`` — the prefix-sum primitive behind "consume this
    stratum's token budget in shuffle order". The naive
    ``sum() over (partition by part order by ord)`` funnels each
    stratum through ONE task (the per-group-window scale failure the
    cap operator also avoids); this is the two-phase decomposition of
    identical semantics:

    1. range-bucket each row by ``order_col`` (contiguous ranges, so
       bucket order == order order; ``order_col`` must be a
       non-negative numeric, UNIQUE within its part — shuffle_pos
       qualifies globally);
    2. one window per ``(part, bucket)`` computes the local running
       total, and a (parts × buckets)-row aggregate window gives each
       bucket its offset — bounded by the bucket count, never by
       data size;
    3. the offsets join back on the same ``(part, bucket)`` key the
       local window already exchanged on.

    Exact for integer values (order-free integer sums). NULL values
    count as 0 (coalesced — a NULL-propagating running total would
    poison every later row of the part)."""
    if buckets is None:
        buckets = _default_buckets(df)
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    mx = df.agg(
        F.coalesce(F.max(order_col), F.lit(0)).cast("double").alias("_pmx")
    )
    rows = (
        df.crossJoin(F.broadcast(mx))
        .withColumn(
            "_pb",
            F.least(
                F.lit(buckets - 1),
                F.floor(
                    F.col(order_col) * buckets / (F.col("_pmx") + 1)
                ).cast("int"),
            ),
        )
        .drop("_pmx")
    )
    v = F.coalesce(F.col(val_col).cast("long"), F.lit(0))
    wloc = (
        Window.partitionBy(part_col, "_pb")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    offsets = (
        rows.groupBy(part_col, "_pb")
        .agg(F.sum(v).alias("_pt"))
        .withColumn(
            "_poff",
            F.coalesce(
                F.sum("_pt").over(
                    Window.partitionBy(part_col)
                    .orderBy("_pb")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select(part_col, "_pb", "_poff")
    )
    # offsets are (parts × buckets)-bounded by construction — always
    # broadcast: a plain join would re-exchange the data on a key the
    # local window already partitioned it by
    return (
        rows.withColumn("_ploc", F.sum(v).over(wloc))
        .join(F.broadcast(offsets), [part_col, "_pb"])
        .withColumn(out_col, (F.col("_poff") + F.col("_ploc")).cast("long"))
        .drop("_pb", "_ploc", "_poff")
    )


#: Fixed-width score buckets for the two-phase per-group cap. Purely
#: a performance knob: the kept set is identical for any count (see
#: per_group_cap_flags), finer buckets just shrink each in-bucket
#: rank window.
CAP_BUCKETS = 256


def per_group_cap_flags(
    docs: DataFrame,
    cap: int | None,
    group_col: str = "source",
    score_col: str = "score",
    lo: float = 0.0,
    hi: float = 1.0,
    buckets: int = CAP_BUCKETS,
    carry: tuple[str, ...] = (),
    flag_name: str = "kept",
    frac_den: int | None = None,
) -> DataFrame:
    """Per-group quota cap — "keep at most ``cap`` documents per
    source/domain, preferring the highest-scoring ones" (the
    RefinedWeb/CCNet-style domain cap that stops a handful of giant
    domains from dominating a web corpus). Keeps the top ``cap`` rows
    per ``group_col`` under the total order ``(score desc, doc_id
    asc)``; returns ``(doc_id, <group_col>, kept)``.

    The naive form — ``row_number() over (partition by group order by
    score desc)`` — funnels each group through ONE task: a 100 TB
    corpus with a few giant sources is exactly where it dies. This is
    the scalable two-phase decomposition of the same semantics:

    1. Each row maps to a fixed-width score bucket over ``[lo, hi]``
       (scores are bounded by construction here — textops quality is
       0..1; pass ``lo``/``hi`` for other ranges; out-of-range scores
       clamp monotonically into the end buckets). Floor-bucketing
       preserves the score order BETWEEN buckets, so per
       ``(group, bucket)`` COUNTS — a tiny map-side-combined
       aggregate — give every bucket its remaining quota from a
       running total over that aggregate alone.
    2. Ranks are only ever computed WITHIN a bucket: the one window
       over the data is ``partitionBy(group, bucket)`` — bounded by
       the bucket's width, not the group's size, and it reuses the
       quota join's partitioning (no extra exchange). ``kept`` is
       simply ``in-bucket rank <= bucket quota``, which resolves
       wholly-kept, wholly-dropped, and straddling buckets in one
       expression. (Degenerate worst case: every row of a group
       carries the SAME score, collapsing it to one bucket and
       re-creating the per-group window; cap on a richer score or
       pre-salt in that regime.)

    The kept set is IDENTICAL to the naive form for any bucket count:
    equal scores always share a bucket, inter-bucket order refines
    score order, and the within-bucket tie-break (``doc_id`` asc)
    matches the naive window's. NULL scores sort below ``lo`` (kept
    only after every scored row). One corpus exchange total — the
    ``(group, bucket)`` join both phases share.

    ``carry`` passes extra input columns through unchanged (so a
    composed pipeline never re-joins on doc_id to recover them);
    ``flag_name`` renames the emitted keep flag when the caller
    already carries a column named ``kept``.

    ``frac_den`` (round 5, exclusive with ``cap``): a FRACTIONAL
    quota — keep the top ``max(1, floor(group_size / frac_den))``
    rows per group instead of a fixed count. The group total is one
    more window over the same (groups × ≤buckets+1)-row counts
    aggregate (unbounded frame, no new exchange), so the fraction
    costs nothing extra and needs NO driver-side count job — the
    selection that DSIR-style "keep the best 20 % of the corpus"
    resampling wants (group = a constant for a global fraction)."""
    if (cap is None) == (frac_den is None):
        raise ValueError("exactly one of cap / frac_den must be set")
    if cap is not None and cap < 0:
        raise ValueError(f"cap must be >= 0, got {cap}")
    if frac_den is not None and frac_den < 1:
        raise ValueError(f"frac_den must be >= 1, got {frac_den}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    reserved = {"doc_id", "_g", "_b", "_s", "_r", "_n", "_quota", "_prior"}
    bad = [c for c in carry if c in reserved or c in (group_col, flag_name)]
    if bad:
        raise ValueError(f"carry columns collide with internals: {bad}")
    width = (hi - lo) / buckets
    # NULL → bucket -1: below every real score, still cappable
    b = F.when(F.col("_s").isNull(), F.lit(-1)).otherwise(
        F.least(
            F.lit(buckets - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col("_s") - F.lit(lo)) / F.lit(width)).cast("int"),
            ),
        )
    )
    rows = docs.select(
        "doc_id",
        F.col(group_col).alias("_g"),
        F.col(score_col).alias("_s"),
        *carry,
    ).withColumn("_b", b)
    counts = rows.groupBy("_g", "_b").agg(F.count(F.lit(1)).alias("_n"))
    # prior = rows in STRICTLY better buckets of the same group; the
    # window runs over the (groups × ≤buckets+1)-row aggregate only
    wcum = Window.partitionBy("_g").orderBy(F.desc("_b"))
    decided = counts.withColumn(
        "_prior",
        F.coalesce(
            F.sum("_n").over(wcum.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).select(
        "_g",
        "_b",
        # quota left when this bucket starts; <=0 → drop all, >=_n →
        # keep all, else exact-rank the straddling bucket. The cap is
        # the fixed count, or the per-group fraction computed from the
        # group total — one unbounded window over the counts aggregate
        (
            (
                F.lit(cap)
                if frac_den is None
                else F.greatest(
                    F.lit(1).cast("long"),
                    F.floor(
                        F.sum("_n").over(Window.partitionBy("_g"))
                        / F.lit(frac_den)
                    ),
                )
            )
            - F.col("_prior")
        ).alias("_quota"),
        "_n",
    )
    # null-safe on the group: a NULL source is a real group (the
    # naive window and the SQL twin both rank it) — a plain equi-join
    # would silently drop its rows
    tagged = rows.alias("r").join(
        decided.alias("d"),
        F.col("r._g").eqNullSafe(F.col("d._g"))
        & (F.col("r._b") == F.col("d._b")),
    ).select(
        F.col("r.doc_id").alias("doc_id"),
        F.col("r._g").alias("_g"),
        F.col("r._b").alias("_b"),
        F.col("r._s").alias("_s"),
        *[F.col(f"r.{c}").alias(c) for c in carry],
        F.col("d._quota").alias("_quota"),
    )
    # ONE pass decides everything: the in-bucket rank (every window
    # partition is one (group, bucket) — bounded by bucket width, and
    # it reuses the join's (_g, _b) partitioning, no extra exchange)
    # against the bucket's remaining quota. Whole-kept buckets satisfy
    # _r <= _quota for all rows, whole-dropped ones for none, the
    # straddling bucket for exactly its quota — no branch split, no
    # union re-reading the corpus twice.
    win = Window.partitionBy("_g", "_b").orderBy(
        F.desc_nulls_last("_s"), F.asc("doc_id")
    )
    return tagged.withColumn("_r", F.row_number().over(win)).select(
        "doc_id",
        F.col("_g").alias(group_col),
        *carry,
        (F.col("_r") <= F.col("_quota")).cast("int").alias(flag_name),
    )


def per_group_cap_naive(
    docs: DataFrame,
    cap: int,
    group_col: str = "source",
    score_col: str = "score",
) -> DataFrame:
    """The one-window-per-group reference form (equality oracle for
    :func:`per_group_cap_flags`; do not run at scale — the per-group
    window is the straggler the two-phase form exists to avoid)."""
    w = Window.partitionBy(group_col).orderBy(
        F.desc_nulls_last(score_col), F.asc("doc_id")
    )
    return docs.select(
        "doc_id", group_col, F.row_number().over(w).alias("_r")
    ).select(
        "doc_id", group_col, (F.col("_r") <= cap).cast("int").alias("kept")
    )


def per_group_cap_sql(
    cap: int, group_col: str = "source", score_sql: str = "score"
) -> str:
    """DuckDB twin (single-window form, oracle-only)."""
    return f"""
    select doc_id, {group_col},
           cast(row_number() over (
                  partition by {group_col}
                  order by {score_sql} desc nulls last, doc_id
                ) <= {cap} as int) as kept
    from documents
    """


def per_group_frac_naive(
    docs: DataFrame,
    frac_den: int,
    group_col: str = "source",
    score_col: str = "score",
) -> DataFrame:
    """One-window-per-group reference form of the fractional cap
    (equality oracle for ``per_group_cap_flags(frac_den=...)``)."""
    w = Window.partitionBy(group_col).orderBy(
        F.desc_nulls_last(score_col), F.asc("doc_id")
    )
    k = F.greatest(
        F.lit(1).cast("long"),
        F.floor(
            F.count(F.lit(1)).over(Window.partitionBy(group_col))
            / F.lit(frac_den)
        ),
    )
    return docs.select(
        "doc_id", group_col, (F.row_number().over(w) <= k).cast("int").alias("kept")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (SM3)
# ---------------------------------------------------------------------------

#: hashed n-gram feature buckets (DSIR uses 10k on web-scale corpora;
#: 1024 keeps every bucket populated on the synthetic gate corpora so
#: the smoothing term is exercised without dominating)
DSIR_BUCKETS = 1024
DSIR_SEED = "dsir"
#: keep the top 1/DSIR_KEEP_DEN of the corpus by importance score
DSIR_KEEP_DEN = 5


def _grams_col(text: Column) -> Column:
    """Unigram + word-bigram feature grams (DSIR's hashed n-gram
    featurization), NULL-proofed: a NULL text yields an empty list on
    both engines instead of a NULL that explode would silently drop
    rows for on one side only."""
    from ..functions.text import shingles_col, tokens_col

    tok = tokens_col(text)
    empty = F.array().cast("array<string>")
    return F.concat(
        F.coalesce(tok, empty), F.coalesce(shingles_col(tok, 2), empty)
    )


def _grams_sql(text: str) -> str:
    from ..functions.text import shingles_sql, tokens_sql

    tok = tokens_sql(text)
    return (
        f"list_concat(coalesce({tok}, []), "
        f"coalesce({shingles_sql(tok, 2)}, []))"
    )


def dsir_scores(
    docs: DataFrame,
    target: Column,
    n_buckets: int = DSIR_BUCKETS,
    seed: str = DSIR_SEED,
    base: DataFrame | None = None,
) -> DataFrame:
    """DSIR-style importance score per document (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling" —
    public): featurize each doc as a bag of hashed n-grams (unigrams
    + bigrams → ``n_buckets`` buckets via the portable seeded hash),
    fit add-one-smoothed bag-of-grams models for the TARGET slice
    (rows where ``target`` is true — e.g. a trusted high-quality
    subset) and the RAW corpus, and score each doc by its
    log-likelihood ratio  Σ_b c_b · ln(p_target(b) / p_raw(b)).
    High scores = docs whose n-gram profile resembles the target
    distribution; resample the top fraction (or Gumbel-perturbed
    top-k) to shift the corpus toward it.

    Cross-engine exactness discipline (the house rule — see
    token_doc_freq's df_ppm note): ``ln`` is transcendental and
    differs in the last ulp between the JVM and DuckDB, so the
    PER-BUCKET log-ratio is quantized ONCE to integer micro-nats —
    ``r_b = floor(1e6 · ln((tc_b+1)(R+B) / ((rc_b+1)(T+B))))`` with
    the argument built from exact integer counts in an identical
    operation order (two exact double products, one division) — and
    every per-DOC score is then the exact integer sum Σ c_b · r_b.
    Float risk is confined to ≤``n_buckets`` floor(ln) calls per
    corpus (a boundary flip needs the true value within ~1e-10 of an
    integer — measured zero across the three gate corpora), not to
    the per-doc emissions. Count products stay exact in double up to
    ~9e7 gram occurrences; beyond that (true 100 TB runs) scores are
    engine-internally stable but not bit-portable — the gate never
    runs there.

    Scale shape: one tokenize pass; per-(doc, bucket) counts collapse
    occurrences BEFORE any join (house TF2 pattern); the weight table
    is ≤``n_buckets`` rows — broadcast — so the score join adds NO
    doc-keyed exchange; totals ride a broadcast one-row cross join.
    ``base``: optional one-row-per-doc spine to left-join scores onto
    (gram-less docs score 0), same contract as unigram_commonness.
    """
    dt = (
        docs.select(
            "doc_id",
            F.coalesce(target, F.lit(False)).alias("_t"),
            F.explode(_grams_col(F.col("text"))).alias("_gram"),
        )
        .select(
            "doc_id",
            "_t",
            F.pmod(hash64_col(F.col("_gram"), seed=seed), F.lit(n_buckets)).alias(
                "_bucket"
            ),
        )
        .groupBy("doc_id", "_t", "_bucket")
        .agg(F.count(F.lit(1)).alias("_c"))
        .transform(plan_cache)
    )
    buckets = dt.groupBy("_bucket").agg(
        F.sum("_c").alias("_rc"),
        F.sum(F.when(F.col("_t"), F.col("_c")).otherwise(F.lit(0))).alias("_tc"),
    )
    totals = buckets.agg(
        F.sum("_rc").alias("_R"), F.sum("_tc").alias("_T")
    )
    # exact-integer ratio argument, identical op order on both engines:
    # (tc+1)·(R+B) and (rc+1)·(T+B) are exact in double below 2^53,
    # then ONE division feeds ln
    num = (F.col("_tc") + 1).cast("double") * (
        F.col("_R") + n_buckets
    ).cast("double")
    den = (F.col("_rc") + 1).cast("double") * (
        F.col("_T") + n_buckets
    ).cast("double")
    weights = buckets.crossJoin(F.broadcast(totals)).select(
        "_bucket",
        F.floor(F.lit(1000000.0) * F.log(num / den)).cast("long").alias("_w"),
    )
    scores = (
        dt.join(F.broadcast(weights), "_bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("_c") * F.col("_w")).alias("dsir_score_unat"))
    )
    spine = docs.select("doc_id") if base is None else base
    return spine.join(scores, "doc_id", "left").withColumn(
        "dsir_score_unat",
        F.coalesce(F.col("dsir_score_unat"), F.lit(0)).cast("long"),
    )


def dsir_scores_sql(
    target_sql: str = "coalesce(lang = 'en', false)",
    n_buckets: int = DSIR_BUCKETS,
    seed: str = DSIR_SEED,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`dsir_scores` — same hash, same smoothing,
    same integer micro-nat quantization, same operation order."""
    from ..functions.hashing import hash64_sql

    h = hash64_sql("_gram", seed=seed)
    return f"""
    with _dsir_g as (
      select doc_id, {target_sql} as _t,
             unnest({_grams_sql('text')}) as _gram
      from {table}
    ),
    _dsir_dt as (
      select doc_id, _t, ({h} % {n_buckets}) as _bucket,
             count(*) as _c
      from _dsir_g group by doc_id, _t, ({h} % {n_buckets})
    ),
    _dsir_b as (
      select _bucket, cast(sum(_c) as bigint) as _rc,
             cast(sum(case when _t then _c else 0 end) as bigint) as _tc
      from _dsir_dt group by _bucket
    ),
    _dsir_tot as (
      select cast(sum(_rc) as bigint) as _R, cast(sum(_tc) as bigint) as _T
      from _dsir_b
    ),
    _dsir_w as (
      select _bucket,
             cast(floor(1000000.0 * ln(
               ((_tc + 1)::double * (_R + {n_buckets})::double)
               / ((_rc + 1)::double * (_T + {n_buckets})::double)
             )) as bigint) as _w
      from _dsir_b cross join _dsir_tot
    ),
    _dsir_s as (
      select doc_id, cast(sum(_c * _w) as bigint) as dsir_score_unat
      from _dsir_dt join _dsir_w using (_bucket) group by doc_id
    )
    select d.doc_id,
           cast(coalesce(s.dsir_score_unat, 0) as bigint) as dsir_score_unat
    from {table} d left join _dsir_s s using (doc_id)
    """


def commonness_dsir_scores(
    docs: DataFrame,
    target: Column,
    min_df: int = 2,
    n_buckets: int = DSIR_BUCKETS,
    seed: str = DSIR_SEED,
    base: DataFrame | None = None,
) -> DataFrame:
    """FUSED form of ``termstats.unigram_commonness`` + ``dsir_scores``
    — bit-identical outputs (pytest-pinned against both unfused
    operators), one corpus pass instead of two.

    Both legs tokenize the same column: TF2 consumes the unigram
    stream, SM3 the unigram+bigram gram stream hashed to buckets. The
    fusion explodes ONE combined struct stream — each token occurrence
    carries both roles (its string for the vocabulary stats, its gram
    bucket for the DSIR counts); each bigram occurrence carries only
    the bucket — and collapses it to ONE per-(doc, token|bucket) count
    frame. From there the corpus-global side is unchanged (token-keyed
    vocabulary stats; ≤``n_buckets`` broadcast weight rows), and the
    per-doc side folds to ONE doc-keyed aggregate and ONE spine join
    where the unfused composition paid two of each plus a second
    tokenize+explode of the whole corpus. Exactness is preserved
    because every fused aggregate is an exact integer sum (order-free)
    feeding the identical division/round — the house micro-nat/ppm
    discipline.

    Scale: the explode carries ~2× the token stream (tokens+bigrams —
    exactly what the two separate passes carried in total), collapsed
    before any join; the one data-sized shuffle key is doc_id."""
    from ..functions.text import shingles_col, tokens_col

    empty = F.array().cast("array<string>")
    tok_arr = F.coalesce(tokens_col(F.col("text")), empty)
    big_arr = F.coalesce(shingles_col(tok_arr, 2), empty)
    elems = F.concat(
        F.transform(
            tok_arr,
            lambda t: F.struct(t.alias("_tok"), t.alias("_gram")),
        ),
        F.transform(
            big_arr,
            lambda g: F.struct(
                F.lit(None).cast("string").alias("_tok"), g.alias("_gram")
            ),
        ),
    )
    dt = (
        docs.select(
            "doc_id",
            F.coalesce(target, F.lit(False)).alias("_t"),
            F.explode(elems).alias("_e"),
        )
        .select(
            "doc_id",
            "_t",
            F.col("_e._tok").alias("_tok"),
            F.pmod(
                hash64_col(F.col("_e._gram"), seed=seed), F.lit(n_buckets)
            ).alias("_bucket"),
        )
        .groupBy("doc_id", "_t", "_tok", "_bucket")
        .agg(F.count(F.lit(1)).alias("_k"))
        .transform(plan_cache)
    )
    # TF2 vocabulary stats over the token rows (identical frame to
    # unigram_commonness's dt: (_tok, _bucket) is 1:1 for token rows)
    toks = dt.filter(F.col("_tok").isNotNull())
    stats = (
        toks.groupBy("_tok")
        .agg(F.sum("_k").alias("tf"), F.count(F.lit(1)).alias("df"))
        .transform(plan_cache)
    )
    total = stats.agg(F.sum("tf").alias("total_tf"))
    vocab = stats.crossJoin(F.broadcast(total)).select(
        "_tok",
        F.floor(F.col("tf") * 1000000.0 / F.col("total_tf"))
        .cast("long")
        .alias("_tf_ppm"),
        "df",
    )
    # SM3 bucket weights over ALL rows (tokens + bigrams = the gram
    # stream), identical arithmetic and operation order to dsir_scores
    buckets = dt.groupBy("_bucket").agg(
        F.sum("_k").alias("_rc"),
        F.sum(F.when(F.col("_t"), F.col("_k")).otherwise(F.lit(0))).alias(
            "_tc"
        ),
    )
    totals = buckets.agg(F.sum("_rc").alias("_R"), F.sum("_tc").alias("_T"))
    num = (F.col("_tc") + 1).cast("double") * (
        F.col("_R") + n_buckets
    ).cast("double")
    den = (F.col("_rc") + 1).cast("double") * (
        F.col("_T") + n_buckets
    ).cast("double")
    weights = buckets.crossJoin(F.broadcast(totals)).select(
        "_bucket",
        F.floor(F.lit(1000000.0) * F.log(num / den)).cast("long").alias("_w"),
    )
    # ONE contribution stream, ONE doc-keyed aggregate: token rows
    # carry (ppm, df, weight), bigram rows carry the weight only
    tokc = (
        toks.join(vocab, "_tok")
        .join(F.broadcast(weights), "_bucket")
        .select(
            "doc_id", "_k", "_tf_ppm", "df", "_w", F.lit(1).alias("_is_tok")
        )
    )
    bigc = (
        dt.filter(F.col("_tok").isNull())
        .join(F.broadcast(weights), "_bucket")
        .select(
            "doc_id",
            "_k",
            F.lit(None).cast("long").alias("_tf_ppm"),
            F.lit(None).cast("long").alias("df"),
            "_w",
            F.lit(0).alias("_is_tok"),
        )
    )
    ktok = F.when(F.col("_is_tok") == 1, F.col("_k")).otherwise(F.lit(0))
    per_doc = (
        tokc.unionByName(bigc)
        .groupBy("doc_id")
        .agg(
            F.sum(ktok).alias("n_toks"),
            F.round(
                F.sum(ktok * F.coalesce("_tf_ppm", F.lit(0))) / F.sum(ktok),
                6,
            ).alias("mean_tf_ppm"),
            F.round(
                F.sum(
                    F.when(
                        (F.col("_is_tok") == 1) & (F.col("df") < min_df),
                        F.col("_k"),
                    ).otherwise(0)
                )
                / F.sum(ktok),
                6,
            ).alias("oov_frac"),
            F.sum(F.col("_k") * F.col("_w")).alias("dsir_score_unat"),
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
        F.coalesce("dsir_score_unat", F.lit(0)).cast("long").alias(
            "dsir_score_unat"
        ),
    )


#: score-bucket range for the DSIR selection pass: micro-nat scores on
#: the gate corpora sit well inside ±2e9; out-of-range scores clamp
#: into the end buckets, which per_group_cap_flags exact-ranks anyway
#: (the bounds are a performance knob, never a correctness one)
DSIR_SCORE_LO = -2e9
DSIR_SCORE_HI = 2e9


def dsir_flags(
    scored: DataFrame,
    frac_den: int = DSIR_KEEP_DEN,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Keep flag for the top ``1/frac_den`` of the corpus by DSIR
    score (deterministic hard-threshold resampling; the paper's
    Gumbel-perturbed form is :func:`gumbel_topk_flags`). Rides the
    fractional per-group cap with a constant group, so the selection
    is the same two-phase score-bucket decomposition — the one
    data-sized window stays partitioned by the score bucket; only the
    COUNTS-AGGREGATE windows (≤ buckets+1 rows by construction) fold
    to a single partition when Catalyst prunes the constant group key
    from their partition spec (the WindowExec warning this emits is
    the same bounded-input class as the surrogate-key windows — see
    BASELINE.md). No global data window, no driver-side count job.

    The input is plan-cached: the cap's two phases (bucket counts,
    in-bucket rank) both read it, and here it is the full scoring
    pipeline, not a bare scan — uncached, the tokenize+hash pass runs
    twice (measured 3.2 s → 2.1 s at sf0.1). At cluster scale the
    same caching applies per-executor via the storage layer, or the
    caller accepts one scan-side recompute."""
    flagged = per_group_cap_flags(
        scored.transform(plan_cache).withColumn("_dsirg", F.lit("all")),
        cap=None,
        frac_den=frac_den,
        group_col="_dsirg",
        score_col="dsir_score_unat",
        lo=DSIR_SCORE_LO,
        hi=DSIR_SCORE_HI,
        carry=("dsir_score_unat",) + tuple(carry),
        flag_name="dsir_kept",
    )
    return flagged.drop("_dsirg")


def dsir_flags_sql(scores_sql: str, frac_den: int = DSIR_KEEP_DEN) -> str:
    """DuckDB twin of :func:`dsir_flags` (single-window oracle form)."""
    return f"""
    select doc_id, dsir_score_unat,
           cast(row_number() over (
                  order by dsir_score_unat desc nulls last, doc_id
                ) <= greatest(1, floor((count(*) over ())::double
                                        / {frac_den})) as int)
             as dsir_kept
    from ({scores_sql})
    """


GUMBEL_SEED = "gumbel"
#: 60-bit hash domain size (HEX_DIGITS * 4 bits) + 1 — maps the hash
#: to u ∈ (0, 1) exclusive on both ends, so ln(-ln(u)) is finite
_GUMBEL_DEN = float((1 << (HEX_DIGITS * 4)) + 1)


def gumbel_topk_flags(
    scored: DataFrame,
    frac_den: int = DSIR_KEEP_DEN,
    temp: float = 1.0,
    seed: str = GUMBEL_SEED,
    score_col: str = "dsir_score_unat",
) -> DataFrame:
    """DSIR's actual resampling rule — Gumbel-top-k: keep the top
    fraction by ``score/temp + Gumbel(0,1)`` where the Gumbel noise is
    the DETERMINISTIC seeded-hash transform g = −ln(−ln(u)),
    u = (hash64(doc_id)+1) / (2^60+1) — sampling WITHOUT replacement
    proportionally to softmax(score/temp), reproducible across runs,
    engines, and cluster sizes (no RNG state — same discipline as
    stratified_sample_flags). Emits (doc_id, gumbel_key, kept).
    The float key is for SELECTION, not for cross-engine hash
    comparison — pytest pins the kept set against an independently
    computed numpy reference (tests/test_corpus_order.py)."""
    u = (
        hash64_col(F.col("doc_id").cast("string"), seed=seed) + 1
    ).cast("double") / F.lit(_GUMBEL_DEN)
    key = (
        F.col(score_col).cast("double") / F.lit(1000000.0) / F.lit(temp)
        - F.log(-F.log(u))
    )
    keyed = scored.select(
        "doc_id", score_col, key.alias("gumbel_key")
    ).transform(plan_cache)
    flagged = per_group_cap_flags(
        keyed.withColumn("_gg", F.lit("all")),
        cap=None,
        frac_den=frac_den,
        group_col="_gg",
        score_col="gumbel_key",
        lo=-50.0,
        hi=50.0,
        carry=("gumbel_key",),
        flag_name="kept",
    )
    return flagged.drop("_gg")


def stratified_sample_sql(
    rates: dict[str, int] = MIXTURE_RATES,
    default: int = DEFAULT_RATE,
    seed: str = SAMPLE_SEED,
) -> str:
    cases = " ".join(f"when lang = '{k}' then {v}" for k, v in rates.items())
    h = hash64_sql("doc_id::varchar", seed=seed)
    return f"""
    select doc_id, lang,
           cast(({h} % 1000) < (case {cases} else {default} end) as int)
             as kept
    from documents
    """
