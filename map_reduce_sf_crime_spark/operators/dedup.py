"""Deduplication operators for the training-data pipeline.

Four detection families plus cluster resolution, each scalable by
construction:

- **exact** — hash-groupBy on md5(text): one shuffle on a uniform key.
- **n-gram Jaccard (exact near-dup)** — inverted-index self-join on
  word shingles: explode → equi-join on shingle → count intersections
  → Jaccard. The join key is the shingle, so only documents *sharing a
  shingle* ever meet — no all-pairs blow-up; skew on ultra-common
  shingles is handled upstream by AQE skew-join (enabled in session).
- **MinHash + LSH** — md5-seeded minhash signatures, banded into
  LSH buckets; candidates = bucket collisions, then exact-Jaccard
  verification. Probabilistic-recall, linear-ish cost: the scale path
  when even the inverted index is too hot.
- **SimHash** — 32-bit majority-vote fingerprint over token hashes;
  near-dup = Hamming distance ≤ d. Banding into 4×8-bit sub-keys is
  **exact blocking** for d ≤ 3 (pigeonhole: 4 bands, <4 differing
  bits → some band intact), so the banded join provably equals the
  all-pairs answer the DuckDB oracle computes.

All hashes are the portable md5-based construction in
functions/hashing.py, so DuckDB reproduces signatures bit-for-bit.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash64_col, hash64_sql, minhash_sql
from ..functions.text import shingles_col, shingles_sql, tokens_col, tokens_sql
from ..functions.caching import plan_cache
from ..sources.generations import check_gen, drop_dead, split_changes

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 4 × 8-bit bands ⇒ exact blocking for hamming ≤ 3

#: Slack for the candidate-pruning inequalities (prefix length, length
#: filter). ``threshold * n`` in float64 can exceed its exact value by
#: one ulp (0.8 * 5 = 4.000000000000001), which would tighten a
#: provably-lossless prune into a lossy one — ceil() overshoots by a
#: whole shingle, and a pair at exactly J = t fails ``nb*t <= na``.
#: Subtracting an epsilon far below any true fractional gap (shingle
#: counts ≪ 1e6, thresholds with few decimals) restores losslessness;
#: the slack only ever ADDS candidates, and the exact-Jaccard
#: verification that follows every prune discards them.
PRUNE_EPS = 1e-9


# ---------------------------------------------------------------- exact

def dedup_keep_first(docs: DataFrame, key: str = "text") -> DataFrame:
    """Exact dedup keeping the lowest doc_id per duplicate group —
    the "canonical representative" form (min-agg + semi-join keeps
    everything distributed; no window over the full corpus)."""
    keep = docs.groupBy(F.md5(key).alias("h")).agg(F.min("doc_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi")


# ------------------------------------------- n-gram Jaccard (exact)

def _shingle_set_expr(n: int):
    """Memoized distinct-shingle Column over the ``text`` column:
    building the let-bound shingle lambda costs ~0.05 s of py4j
    construction per call (r11 measurement) and every dedup-family
    build calls it; a Column is an immutable expression tree resolved
    per-DataFrame, so one instance per ``n`` serves the process.
    Keyed on the live gateway (r12 ADVICE hardening) so a restarted
    JVM re-builds instead of serving dead JavaObjects."""
    from ..functions.caching import gateway_key

    return _shingle_set_expr_impl(n, gateway_key())


@functools.lru_cache(maxsize=8)
def _shingle_set_expr_impl(n: int, _gw):
    return F.array_distinct(shingles_col(tokens_col(F.col("text")), n))


def shingle_sets(
    docs: DataFrame, n: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, *carry, sh, n_sh): distinct word-shingle set per doc —
    THE single definition of shingling for every dedup family (live
    paths, the persisted catalog, and the incremental form all call
    this, so the rules can never drift apart)."""
    return docs.select(
        "doc_id",
        *carry,
        _shingle_set_expr(n).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))


def _shingle_sets_sql(n: int, table: str = "documents") -> str:
    sh = f"list_distinct({shingles_sql(tokens_sql('text'), n)})"
    return f"select doc_id, {sh} as sh, len({sh}) as n_sh from {table}"


def near_dup_pairs_exact(docs: DataFrame, n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard near-dup pairs — prefix-filtered inverted index
    (PPJoin-style, Xiao et al., WWW'08; public algorithm).

    Two provably lossless prunes before any pair materializes:

    - **Prefix filter**: order each doc's shingles by (global
      frequency, shingle); two sets with Jaccard ≥ t MUST share a
      shingle within their first ``|set| - ceil(t·|set|) + 1``
      entries, so only that prefix is indexed — the join meets docs
      on their *rarest* shingles, collapsing the candidate blow-up of
      stop-shingle buckets.
    - **Length filter**: |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max ⇒
      J ≤ min/max, so pairs with ``nb < t·na`` can't qualify; the
      bound rides the join condition.

    Candidates are then verified with an exact ``array_intersect``
    over the full (cached) shingle sets. Output ≡ the naive full
    inverted-index join (the DuckDB oracle computes that form); the
    equivalence is also asserted in tests/test_dedup.py."""
    t = shingle_sets(docs, n).transform(plan_cache)
    return near_dup_pairs_from_shingles(t, threshold)


def near_dup_pairs_from_shingles(t: DataFrame, threshold: float) -> DataFrame:
    """:func:`near_dup_pairs_exact` over an ALREADY-SHINGLED frame —
    ``t`` must carry ``(doc_id, sh, n_sh)`` (extra columns are fine)
    and should be cached by the caller: the prefix pass and both
    verify legs re-read it. Lets a pipeline that already pays a
    shingle pass (corpus_clean_stats' staged projection, r12) feed
    the join directly instead of re-tokenizing + re-shingling the
    corpus inside this operator (guide §2 reuse-before-recompute)."""
    e = t.select("doc_id", "n_sh", F.explode("sh").alias("s"))
    freq = e.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    rank_w = Window.partitionBy("doc_id").orderBy("df", "s")
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(PRUNE_EPS))
        + 1
    )
    prefix = (
        e.join(freq, "s")
        .withColumn("rk", F.row_number().over(rank_w))
        .filter(F.col("rk") <= prefix_len)
        .select("doc_id", "n_sh", "s", "rk")
        .transform(plan_cache)
    )
    # PPJoin POSITIONAL filter (r12, same Xiao et al. paper): rk is
    # each shingle's position in the doc's full (df, s)-sorted list —
    # a GLOBAL total order, so every shared shingle of a pair sits on
    # the same side of any other shared shingle in both docs. At a
    # collision on s, the overlap reachable from s onward is bounded
    # by ubound = 1 + min(na − rk_a, nb − rk_b); J ≥ t needs overlap
    # α = ceil(t/(1+t)·(na+nb)), and a qualifying pair ALWAYS passes
    # at its first shared prefix shingle (all shared shingles are ≥ it
    # in the global order, so ubound there bounds the FULL overlap) —
    # lossless, with the PRUNE_EPS slack against float tightening.
    # Prunes candidate rows BEFORE the distinct and the two verify
    # set-fetch joins.
    alpha_frac = threshold / (1.0 + threshold)
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J ≥ t ⇒ t·na ≤ nb ≤ na/t (symmetric form)
            & (F.col("b.n_sh") * threshold <= F.col("a.n_sh") + PRUNE_EPS)
            & (F.col("a.n_sh") * threshold <= F.col("b.n_sh") + PRUNE_EPS)
            & (
                1
                + F.least(
                    F.col("a.n_sh") - F.col("a.rk"),
                    F.col("b.n_sh") - F.col("b.rk"),
                )
                + PRUNE_EPS
                >= (F.col("a.n_sh") + F.col("b.n_sh")) * alpha_frac
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ta = t.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("na"))
    tb = t.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.round(jac.cast("double"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def near_dup_pairs_naive(docs: DataFrame, n: int = 3, threshold: float = 0.5) -> DataFrame:
    """The full inverted-index form (no prefix filter) — reference
    implementation for the equivalence test; same output as
    :func:`near_dup_pairs_exact`."""
    t = shingle_sets(docs, n)
    e = t.select("doc_id", "n_sh", F.explode("sh").alias("s")).transform(plan_cache)
    a, b = e.alias("a"), e.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pairs.withColumn("jaccard", F.round(jac.cast("double"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def near_dup_pairs_exact_sql(
    n: int = 3, threshold: float = 0.5, table: str = "documents"
) -> str:
    return f"""
    with t as ({_shingle_sets_sql(n, table)}),
    e as (select doc_id, n_sh, unnest(sh) as s from t),
    pairs as (
      select a.doc_id as doc_a, b.doc_id as doc_b,
             a.n_sh as na, b.n_sh as nb, count(*) as inter
      from e a join e b on a.s = b.s and a.doc_id < b.doc_id
      group by 1, 2, 3, 4
    )
    select doc_a, doc_b,
           round(inter * 1.0 / (na + nb - inter), 6) as jaccard
    from pairs
    where round(inter * 1.0 / (na + nb - inter), 6) >= {threshold}
    """


# ------------------------------------------------- MinHash + LSH

def _minhash_mins(t: DataFrame, n_hashes: int) -> DataFrame:
    """Per-doc minhash columns ``(doc_id, _m0.._mN)`` from a shingle
    frame — exploded form, ``n_hashes`` codegen'd md5 min-aggregates.
    Contains exactly the docs with ≥1 shingle (the explode drops the
    rest)."""
    ex = t.select("doc_id", F.explode("sh").alias("s"))
    return ex.groupBy("doc_id").agg(
        *[
            F.min(hash64_col(F.col("s"), seed=str(k))).alias(f"_m{k}")
            for k in range(n_hashes)
        ]
    )


def _sig_col(n_hashes: int):
    return F.array(*[F.col(f"_m{k}") for k in range(n_hashes)])


def minhash_signatures(docs: DataFrame, n: int = 3, n_hashes: int = 16) -> DataFrame:
    """MinHash signatures in exploded form: one row per (doc, shingle),
    then ``n_hashes`` codegen'd md5 min-aggregates. Semantically equal
    to ``minhash_col`` over the shingle array (functions/hashing.py) but
    ~20× faster — per-shingle hashing runs inside whole-stage codegen
    instead of an interpreted ``transform`` lambda, and the shingle
    array is computed once (the Generate is a CollapseProject barrier)
    rather than re-derived per hash function. Docs with no shingles
    come back with all-null signatures via the left join — the same
    ``array_min([]) = NULL`` shape the array form produces."""
    t = shingle_sets(docs, n)
    return (
        t.select("doc_id")
        .join(_minhash_mins(t, n_hashes), "doc_id", "left")
        .select("doc_id", _sig_col(n_hashes).alias("sig"))
    )


def minhash_signatures_sql(n: int = 3, n_hashes: int = 16) -> str:
    return f"""
    with t as ({_shingle_sets_sql(n)})
    select doc_id, {minhash_sql('sh', n_hashes)} as sig from t
    """


def lsh_near_dup_pairs(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidates (banded minhash) + exact-Jaccard verification.

    Output ⊆ the exact answer; recall at jaccard j is
    ``1 - (1 - j^r)^b`` (r = n_hashes/bands). With 8 bands × r=2,
    j=0.8 pairs are found w.p. ≈ 0.9997 — deterministic here since
    hashes are seeded md5.
    """
    r = n_hashes // bands
    # both the banded self-join and the verification join re-read these
    # small per-doc tables — cache so shingling/hashing runs once
    t = shingle_sets(docs, n).transform(plan_cache)
    # r12: build signatures from the min-agg frame directly. The
    # minhash_signatures form left-joins the mins back to ALL doc_ids
    # to give zero-shingle docs their all-NULL signature — which this
    # caller immediately dropped again (NULL band keys degenerate to
    # md5('') and E such docs would collide into ~E²/2 candidate
    # pairs, all discarded later: their jaccard is NULL, never ≥ a
    # threshold > 0). The min-agg output IS exactly the ≥1-shingle
    # doc set (explode drops the rest), so joining it with t's n_sh
    # inner produces the identical frame minus one t scan and one
    # left join per build — same inner-join behavior as the catalog
    # path.
    sigs = (
        _minhash_mins(t, n_hashes)
        .join(t.select("doc_id", "n_sh"), "doc_id")
        .select("doc_id", "n_sh", _sig_col(n_hashes).alias("sig"))
        .transform(plan_cache)
    )
    band_cols = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.md5(
                    F.concat_ws(",", *[F.col("sig")[i * r + j] for j in range(r)])
                ).alias("key"),
            )
            for i in range(bands)
        ]
    )
    buckets = sigs.select("doc_id", "n_sh", F.explode(band_cols).alias("bk")).select(
        "doc_id", "n_sh", "bk.band", "bk.key"
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # lossless length filter (same bound as PPJoin): J ≥ t
            # needs t·na ≤ nb ≤ na/t — prunes cross-length bucket
            # collisions before the distinct
            & (F.col("b.n_sh") * threshold <= F.col("a.n_sh") + PRUNE_EPS)
            & (F.col("a.n_sh") * threshold <= F.col("b.n_sh") + PRUNE_EPS),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ta = t.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("na"))
    tb = t.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("nb"))
    verified = (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).cast(
                    "double"
                ),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


# ----------------------------------- incremental (batch vs catalog)



def _banded_buckets(
    base: DataFrame, n_hashes: int, bands: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Banded-minhash bucket rows ``(doc_id, *carry, n_sh, band, key)``
    from a ``(doc_id, sh, n_sh, *carry)`` frame. One row per (doc,
    band); ``key`` is md5 over that band's minhash slice — the
    identical construction on both the live path and the persisted
    catalog, so bucket keys are bit-equal across runs."""
    r = n_hashes // bands
    ex = base.select("doc_id", F.explode("sh").alias("s"))
    mins = ex.groupBy("doc_id").agg(
        *[
            F.min(hash64_col(F.col("s"), seed=str(k))).alias(f"_m{k}")
            for k in range(n_hashes)
        ]
    )
    band_cols = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.md5(
                    F.concat_ws(",", *[F.col(f"_m{i * r + j}") for j in range(r)])
                ).alias("key"),
            )
            for i in range(bands)
        ]
    )
    head = ["doc_id", *carry, "n_sh"]
    return (
        base.select(*head)
        .join(mins, "doc_id")
        .select(*head, F.explode(band_cols).alias("bk"))
        .select(*head, "bk.band", "bk.key")
    )


def _candidate_pairs(inc_b: DataFrame, cat_b: DataFrame, threshold: float) -> DataFrame:
    """Incoming×catalog bucket collisions with the lossless length
    filter (J ≥ t needs t·ni ≤ nc ≤ ni/t), deduped to (doc, cat) pairs.
    Expects ``inc_b`` aliased "i" and ``cat_b`` aliased "c"."""
    return (
        inc_b.join(
            cat_b,
            (F.col("i.band") == F.col("c.band"))
            & (F.col("i.key") == F.col("c.key"))
            & (F.col("c.n_sh") * threshold <= F.col("i.n_sh") + PRUNE_EPS)
            & (F.col("i.n_sh") * threshold <= F.col("c.n_sh") + PRUNE_EPS),
        )
        .select(F.col("i.doc_id").alias("doc_id"), F.col("c.doc_id").alias("cat_id"))
        .distinct()
    )


def _verify_and_flag(
    cands: DataFrame,
    ti: DataFrame,
    tc: DataFrame,
    incoming_ids: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs + per-incoming-doc
    flag aggregation — the shared tail of both incremental forms."""
    jac = F.col("inter") / (F.col("ni") + F.col("nc") - F.col("inter"))
    matches = (
        cands.join(ti, "doc_id")
        .join(tc, "cat_id")
        .withColumn("inter", F.size(F.array_intersect("sh_i", "sh_c")))
        .withColumn("jaccard", F.round(jac.cast("double"), 6))
        .filter(F.col("jaccard") >= threshold)
        .groupBy("doc_id")
        .agg(
            # DISTINCT catalog docs: count(*) would double-count when
            # the catalog carries duplicated signature rows for a
            # cat_id (e.g. append_signature_catalog replayed after a
            # crash) — the flag semantics are "how many catalog DOCS
            # match", which countDistinct preserves under replays
            F.countDistinct("cat_id").alias("n_cat_matches"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )
    return (
        incoming_ids.join(matches, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_cat_matches"), F.lit(0)).cast("long").alias(
                "n_cat_matches"
            ),
            F.coalesce(F.col("best_jaccard"), F.lit(0.0)).alias("best_jaccard"),
            (F.coalesce(F.col("n_cat_matches"), F.lit(0)) > 0)
            .cast("int")
            .alias("is_dup"),
        )
    )


def incremental_lsh_flags(
    docs: DataFrame,
    incoming,
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Daily-ingest near-dedup: flag each INCOMING document that
    near-duplicates (Jaccard ≥ ``threshold``) any document already in
    the CATALOG — the form corpus dedup actually takes in production,
    where a new crawl batch lands against an existing 100 TB corpus.

    ``incoming`` is a boolean Column over ``docs`` (the batch
    membership rule). Shape at scale: incoming×catalog band-bucket
    join only — incoming docs are never compared to each other, and
    the catalog side is exactly the precomputed signature catalog
    (doc_signatures); store it bucketed by band key and the daily
    run shuffles ONLY the new batch. Candidates are verified with
    exact Jaccard over the shingle sets, so output ⊆ the exact
    incoming×catalog answer; at 8 bands × r=2 every j ≥ 0.8 pair is
    recalled deterministically here (seeded md5 — equality with the
    exact form is asserted in tests/test_dedup.py).

    Returns one row per incoming doc: ``(doc_id, n_cat_matches,
    best_jaccard, is_dup)``.
    """
    base = shingle_sets(
        docs.select("doc_id", incoming.alias("is_incoming"), "text"),
        n,
        carry=("is_incoming",),
    ).transform(plan_cache)
    buckets = _banded_buckets(base, n_hashes, bands, carry=("is_incoming",))
    inc_b = buckets.filter(F.col("is_incoming")).alias("i")
    cat_b = buckets.filter(~F.col("is_incoming")).alias("c")
    cands = _candidate_pairs(inc_b, cat_b, threshold)
    ti = base.select(F.col("doc_id"), F.col("sh").alias("sh_i"), F.col("n_sh").alias("ni"))
    tc = base.select(
        F.col("doc_id").alias("cat_id"), F.col("sh").alias("sh_c"), F.col("n_sh").alias("nc")
    )
    incoming_ids = base.filter(F.col("is_incoming")).select("doc_id")
    return _verify_and_flag(cands, ti, tc, incoming_ids, threshold)


def write_signature_catalog(
    docs: DataFrame,
    buckets_table: str,
    shingles_table: str,
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    n_buckets: int = 16,
    mode: str = "overwrite",
    gen: int = 0,
) -> None:
    """Persist the CATALOG side of incremental near-dedup once — the
    production layout :func:`incremental_lsh_flags`'s docstring
    promises (its recompute form re-shingles the whole catalog every
    run, which at a 100 TB corpus is the dominant cost):

    - ``buckets_table`` ``(doc_id, n_sh, band, key)``: one row per
      banded signature key, hash-bucketed on ``key`` so the daily
      candidate join probes it WITHOUT a catalog-side shuffle.
    - ``shingles_table`` ``(doc_id, sh, n_sh)``: exact-verify inputs,
      bucketed on ``doc_id`` so the verification join co-locates by
      bucket instead of reshuffling catalog shingle sets.

    Signatures are content hashes, so rows never mutate: the table is
    append-only — after a batch is flagged,
    :func:`append_signature_catalog` folds its rows in with
    ``mode="append"`` and they become catalog for the next batch (the
    daily loop is round-tripped in tests/test_dedup.py).

    A ``{buckets_table}_meta`` one-row table records the signature
    parameters: band keys are pure functions of ``(n, n_hashes,
    bands)``, so probing or appending with DIFFERENT values would not
    error — incoming hashes simply never collide with stored ones and
    every doc silently reports zero matches. Readers and appenders
    verify the stamp and raise instead (tests/test_dedup.py).

    Every row is stamped with ``gen`` (the batch generation, 0 for
    the base build): together with the ``{buckets_table}_dead``
    tombstone table this gives the catalog DELETE/UPDATE support
    under the same generation-scoping rule as the persisted ANN
    indexes — see :func:`apply_changes_to_signature_catalog`. A
    rebuild (overwrite) truncates the generation line and drops the
    tombstones with it.
    """
    from ..sources.lakehouse import write_bucketed

    spark = docs.sparkSession
    if mode == "append":
        _check_catalog_meta(spark, buckets_table, n, n_hashes, bands)
    else:
        # truncate the generation line FIRST: stale tombstones left
        # behind a crash mid-rebuild would kill the fresh gen-0 rows
        from ..sources.lakehouse import drop_table_and_orphan as _drop

        _drop(spark, f"{buckets_table}_dead")
    base = shingle_sets(docs, n).cache()
    try:
        write_bucketed(
            _banded_buckets(base, n_hashes, bands).withColumn(
                "gen", F.lit(gen).cast("int")
            ),
            buckets_table, "key", n_buckets,
            mode=mode,
        )
        write_bucketed(
            base.select("doc_id", "sh", "n_sh").withColumn(
                "gen", F.lit(gen).cast("int")
            ),
            shingles_table, "doc_id", n_buckets,
            mode=mode,
        )
    finally:
        base.unpersist()
    if mode != "append":
        # drops an orphaned location too — an earlier process's
        # leftover directory would make saveAsTable refuse to adopt
        from ..sources.lakehouse import drop_table_and_orphan

        meta = f"{buckets_table}_meta"
        drop_table_and_orphan(spark, meta)
        spark.createDataFrame(
            [(n, n_hashes, bands)], "n int, n_hashes int, bands int"
        ).write.mode("overwrite").format("parquet").saveAsTable(meta)


def _check_catalog_meta(
    spark, buckets_table: str, n: int, n_hashes: int, bands: int
) -> None:
    """Raise if the persisted catalog was written with different
    signature parameters (the silent-zero-matches hazard); a catalog
    predating the stamp passes with no check (document its params
    out-of-band or rebuild)."""
    if not spark.catalog.tableExists(f"{buckets_table}_meta"):
        return
    row = spark.table(f"{buckets_table}_meta").collect()[0]
    stored = (row["n"], row["n_hashes"], row["bands"])
    if stored != (n, n_hashes, bands):
        raise ValueError(
            f"signature catalog {buckets_table} was written with "
            f"(n, n_hashes, bands)={stored}, called with "
            f"{(n, n_hashes, bands)} — banded keys would never collide "
            "and every doc would silently report zero matches; pass the "
            "catalog's parameters or rebuild it"
        )


def append_signature_catalog(
    docs: DataFrame,
    buckets_table: str,
    shingles_table: str,
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    n_buckets: int = 16,
    gen: int = 0,
) -> None:
    """The daily loop's closing step: after a batch is flagged
    (:func:`incremental_lsh_flags_cataloged`), APPEND its signatures
    to the catalog so tomorrow's batch dedups against today's docs
    too. Spark appends to a bucketed table keep the bucket spec (new
    files per bucket), so the shuffle-free probe property is
    preserved; accumulated small bucket files are reclaimed by
    `sources/lakehouse.py::compact_bucketed` (a zero-shuffle
    one-file-per-bucket rewrite + rename swap, probe equality and
    crash recovery pinned in tests/test_lakehouse.py). Signature rows
    are content-derived and immutable, so append-only is sufficient —
    no merge needed.

    Replay tolerance: a crash-and-re-run that appends the same batch
    twice duplicates STORAGE rows, but cannot corrupt flag results —
    candidate pairs are distinct by construction and the verify
    aggregation counts DISTINCT catalog docs (see _verify_and_flag);
    equality under a double append is pinned in tests/test_dedup.py.
    Storage-side, re-compact or rebuild the catalog to reclaim."""
    write_signature_catalog(
        docs, buckets_table, shingles_table, n, n_hashes, bands, n_buckets,
        mode="append", gen=gen,
    )


def apply_changes_to_signature_catalog(
    spark,
    changes: DataFrame,
    buckets_table: str,
    shingles_table: str,
    gen: int,
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    n_buckets: int = 16,
) -> None:
    """Fold a lakehouse change feed (``sources.lakehouse.read_changes``
    vocabulary over a ``(doc_id, text, ...)`` table) into the
    persisted dedup signature catalog — the dedup twin of
    ``apply_changes_to_ivf_index``. Without this, a deleted document
    keeps flagging tomorrow's crawl as duplicates of text that no
    longer exists, and an updated document matches on its STALE
    shingles.

    - deletes + update pre-images land as ``(doc_id, dead_as_of=gen)``
      rows in the ``{buckets_table}_dead`` tombstone table: probe
      time drops catalog rows whose ``gen`` predates the tombstone
      (one broadcast join against the churn-sized max-generation set
      — the bucketed probe plan is untouched);
    - inserts + update post-images append their signatures under this
      ``gen`` (:func:`append_signature_catalog`), so an update's own
      re-insert — and any later re-insert — survives the tombstone:
      delete + re-add compose without rewriting the base, exactly the
      ANN index's generation-scoping rule.

    Replay tolerance matches the append path's documented contract:
    re-running the fold duplicates storage rows (tombstones AND
    signatures) but cannot change flag results — the dead set is a
    max-aggregate and the verify tail counts DISTINCT catalog docs.
    Cost is churn-sized on both legs; a rebuild clears the tombstone
    line. Equivalence with a from-scratch rebuild on the post-change
    corpus is pinned in tests/test_dedup.py."""
    check_gen(gen)
    _check_catalog_meta(spark, buckets_table, n, n_hashes, bands)
    dead, live = split_changes(changes)
    dead = (
        dead.select("doc_id")
        .distinct()
        .withColumn("dead_as_of", F.lit(gen).cast("int"))
    )
    if dead.take(1):
        dead.coalesce(1).write.mode("append").format("parquet").saveAsTable(
            f"{buckets_table}_dead"
        )
    live = live.select("doc_id", "text")
    if live.take(1):
        append_signature_catalog(
            live, buckets_table, shingles_table, n, n_hashes, bands,
            n_buckets, gen=gen,
        )
    # cross-session cache coherence (see the retrieval fold): in a
    # foreachBatch maintenance loop the appends execute through the
    # clone session's write path — refresh the caller's view
    for t in (buckets_table, shingles_table, f"{buckets_table}_dead"):
        if spark.catalog.tableExists(t):
            spark.catalog.refreshTable(t)


def incremental_lsh_flags_cataloged(
    spark,
    batch: DataFrame,
    buckets_table: str,
    shingles_table: str,
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Catalog-backed :func:`incremental_lsh_flags`: identical output
    (pinned in tests/test_dedup.py), but the catalog signatures are
    READ from the persisted tables (:func:`write_signature_catalog`)
    instead of recomputed from raw text — the daily run shingles,
    hashes, and shuffles ONLY the new batch. ``n``/``n_hashes``/
    ``bands`` must match the values the catalog was written with
    (they determine the stored band keys) — verified against the
    catalog's meta stamp, raising instead of silently matching
    nothing."""
    _check_catalog_meta(spark, buckets_table, n, n_hashes, bands)
    base_i = shingle_sets(batch, n).transform(plan_cache)
    inc_b = _banded_buckets(base_i, n_hashes, bands).alias("i")
    # both catalog reads pass the generation-scoped tombstone filter:
    # buckets so dead docs never form candidates, shingles so a
    # REVIVED doc verifies against its live image only (stale
    # pre-image shingle rows would corrupt the intersection)
    dead_t = f"{buckets_table}_dead"
    dead = spark.table(dead_t) if spark.catalog.tableExists(dead_t) else None
    cat_b = drop_dead(
        spark.table(buckets_table), dead, "doc_id", "gen", "dead_as_of"
    ).alias("c")
    cands = _candidate_pairs(inc_b, cat_b, threshold)
    ti = base_i.select(
        F.col("doc_id"), F.col("sh").alias("sh_i"), F.col("n_sh").alias("ni")
    )
    tc = drop_dead(
        spark.table(shingles_table), dead, "doc_id", "gen", "dead_as_of"
    ).select(
        F.col("doc_id").alias("cat_id"),
        F.col("sh").alias("sh_c"),
        F.col("n_sh").alias("nc"),
    )
    return _verify_and_flag(cands, ti, tc, base_i.select("doc_id"), threshold)


def incremental_exact_sql(
    incoming_pred: str, n: int = 3, threshold: float = 0.8
) -> str:
    """Exact incoming×catalog twin (inverted-index join, no LSH) —
    the oracle the banded form must equal on recalled data."""
    return f"""
    with t as ({_shingle_sets_sql(n)}),
    inc as (select * from t where {incoming_pred}),
    cat as (select * from t where not ({incoming_pred})),
    ei as (select doc_id, n_sh, unnest(sh) as s from inc),
    ec as (select doc_id, n_sh, unnest(sh) as s from cat),
    pairs as (
      select i.doc_id as doc_id, c.doc_id as cat_id,
             i.n_sh as ni, c.n_sh as nc, count(*) as inter
      from ei i join ec c on i.s = c.s
      group by 1, 2, 3, 4
    ),
    m as (
      select doc_id, count(*) as n_cat_matches,
             max(round(inter * 1.0 / (ni + nc - inter), 6)) as best_jaccard
      from pairs
      where round(inter * 1.0 / (ni + nc - inter), 6) >= {threshold}
      group by doc_id
    )
    select inc.doc_id,
           cast(coalesce(m.n_cat_matches, 0) as bigint) as n_cat_matches,
           coalesce(m.best_jaccard, 0.0) as best_jaccard,
           cast(coalesce(m.n_cat_matches, 0) > 0 as int) as is_dup
    from inc left join m using (doc_id)
    """


# ---------------------------------------------- duplicate clusters

def _cc_mins(canon: DataFrame):
    """Symmetric adjacency of a canonical (a > b) edge frame plus
    ``m(u) = min(Γ(u) ∪ {u})`` per vertex."""
    sym = canon.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).union(canon.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least("_mn", "src").alias("m"))
    )
    return sym, mins


def _cc_large_star(canon: DataFrame) -> DataFrame:
    """Large-star: for every vertex u, link each STRICTLY LARGER
    neighbor v to m(u). Output stays canonical (v > u ≥ m)."""
    sym, mins = _cc_mins(canon)
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _cc_small_star(canon: DataFrame) -> DataFrame:
    """Small-star: for every vertex u, link each SMALLER neighbor —
    and u itself — to m(u); self-loops dropped."""
    sym, mins = _cc_mins(canon)
    smaller = (
        sym.join(mins, "src")
        .filter(F.col("dst") < F.col("src"))
        .select(F.col("dst").alias("a"), F.col("m").alias("b"))
    )
    own = mins.select(F.col("src").alias("a"), F.col("m").alias("b"))
    return (
        smaller.union(own).filter(F.col("a") != F.col("b")).distinct()
    )


#: Rounds the last :func:`dup_clusters` call took to converge —
#: diagnostic for tests and ops (the documented bound is
#: O(log² n) alternations, O(log n) on chain/star shapes).
LAST_CC_ROUNDS = 0


def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc in
    ≥1 pair gets ``cluster_id`` = min doc_id of its component (the
    canonical representative — "which docs are the same document").

    Alternating large-star / small-star edge contraction (Kiveris et
    al. 2014, "Connected Components in MapReduce and Beyond", public):
    each round rewrites the edge set so every vertex's larger
    neighbors (large-star) then smaller neighbors and itself
    (small-star) link directly to the minimum of its closed
    neighborhood. Distances to each component's minimum roughly HALVE
    per round — the pathological chain that cost the round-4
    min-label-propagation form O(diameter) rounds converges in
    O(log n) alternations (pinned in tests/test_dedup.py: the 30-doc
    chain inside ⌈log₂ n⌉ + 1 rounds), and the fixpoint is exactly
    the star forest centered at component minima. Worst-case bound
    over all graphs is O(log² n) rounds. Each round is two
    aggregate+join+distinct passes over the current edge set (which
    only ever shrinks-or-holds in size class — large-star emits at
    most one edge per input edge, small-star at most one per edge
    plus one per vertex), localCheckpointed to truncate lineage — the
    canonical Spark shape for iterative algorithms.

    Exhausting ``max_iter`` raises rather than returning
    silently-divergent labels; with the log-round contraction the
    default 20 covers components of ~2²⁰ vertices even at the
    worst-case square, so a raise means something structurally new.
    Round count of the last call is exported as ``LAST_CC_ROUNDS``."""
    global LAST_CC_ROUNDS
    canon = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("a"),
            F.least("doc_a", "doc_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    for rounds in range(1, max_iter + 1):
        new = _cc_small_star(_cc_large_star(canon)).localCheckpoint()
        unchanged = (
            new.count() == canon.count()
            and new.exceptAll(canon).limit(1).count() == 0
        )
        canon = new
        if unchanged:
            LAST_CC_ROUNDS = rounds
            break
    else:
        raise RuntimeError(
            f"dup_clusters did not converge within {max_iter} rounds "
            "of large-star/small-star contraction; raise max_iter — "
            "the edge set is still changing"
        )
    return (
        canon.select(
            F.col("a").alias("doc_id"), F.col("b").alias("cluster_id")
        )
        .union(
            canon.select(
                F.col("b").alias("doc_id"), F.col("b").alias("cluster_id")
            )
        )
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def dup_clusters_sql(pairs_sql: str) -> str:
    """Recursive-CTE twin: min reachable doc_id per vertex."""
    return f"""
    with recursive p as ({pairs_sql}),
    edges as (
      select doc_a as src, doc_b as dst from p
      union
      select doc_b, doc_a from p
    ),
    reach (src, dst) as (
      select src, dst from edges
      union
      select r.src, e.dst from reach r join edges e on r.dst = e.src
      where r.src != e.dst
    )
    select src as doc_id, least(src, min(dst)) as cluster_id
    from reach group by src
    """


# ------------------------------------------------------ SimHash

def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over (all, frequency-weighted) whitespace tokens."""
    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).withColumn("h", hash64_col(F.col("tok"), seed="sim"))
    aggs = [
        F.expr(
            f"case when 2 * sum((h >> {i}) & 1) > count(*) then {1 << i} else 0 end"
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    total = sum((F.col(f"b{i}") for i in range(SIMHASH_BITS)), F.lit(0))
    return per_doc.select("doc_id", total.cast("long").alias("simhash"))


def simhash_sql() -> str:
    h = hash64_sql("tok", seed="sim")
    terms = " + ".join(
        f"(case when 2 * sum(({h} >> {i}) & 1) > count(*) then {1 << i} else 0 end)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
    with tok as (select doc_id, unnest({tokens_sql('text')}) as tok from documents)
    select doc_id, cast({terms} as bigint) as simhash
    from tok group by doc_id
    """


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Hamming-≤d pairs via 4×8-bit band blocking (exact for d ≤ 3)."""
    assert max_hamming < SIMHASH_BANDS, "banding only exact for d < #bands"
    s = simhash(docs).transform(plan_cache)  # feeds both sides of the banded self-join
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    bands = s.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.val")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs_sql(max_hamming: int = 3) -> str:
    return f"""
    with s as ({simhash_sql()})
    select a.doc_id as doc_a, b.doc_id as doc_b,
           bit_count(xor(a.simhash, b.simhash)) as hamming
    from s a join s b on a.doc_id < b.doc_id
    where bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


# ------------------------------- duplicated spans (substring-level dedup)

def duplicate_span_stats(docs: DataFrame, n: int = 8) -> DataFrame:
    """Exact substring-level duplication profile — the span form of
    corpus dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", public): document-level dedup misses the
    boilerplate/quotation/template text that recurs INSIDE otherwise
    distinct documents, which is what actually gets memorized. Every
    length-``n`` token window is hashed; a window whose hash occurs
    ≥ 2 times anywhere in the corpus (another doc, or elsewhere in
    the same doc) is a duplicated span.

    Returns per doc: ``(doc_id, n_tokens, n_grams, n_dup_grams,
    dup_token_frac)`` — ``dup_token_frac`` is the fraction of the
    doc's tokens covered by at least one duplicated span, computed by
    MERGING overlapping span intervals (a run of k duplicated tokens
    counts k, not k·n).

    Scale shape: inverted index on the gram hash — a uniform shuffle
    key (md5-based), never all-pairs; the corpus frequency pass is
    one groupBy; interval merging is a per-doc window bounded by doc
    length. The production cut step (drop all-but-one copy of each
    span) consumes these stats plus a retention policy; the stats are
    the distributed-heavy part.
    """
    toks = docs.select(
        "doc_id",
        tokens_col(F.col("text")).alias("toks"),
    ).select("doc_id", "toks", F.size("toks").alias("n_tokens"))
    empty = F.array().cast("array<bigint>")
    gram_arr = F.when(
        F.col("n_tokens") >= n,
        F.transform(
            F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
            lambda i: hash64_col(
                F.concat_ws(" ", F.slice(F.col("toks"), i, n)), seed="span"
            ),
        ),
    ).otherwise(empty)
    grams = toks.select(
        "doc_id", F.posexplode(gram_arr).alias("pos", "gh")
    )
    grams = plan_cache(grams)  # frequency pass + dup join both read it
    freq = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("cnt"))
    dup = (
        grams.join(freq.filter(F.col("cnt") >= 2), "gh")
        .select(
            "doc_id",
            F.col("pos").alias("start"),
            (F.col("pos") + (n - 1)).alias("end"),
        )
    )
    # gaps-and-islands: each interval contributes the part of
    # [start, end] not already covered by an earlier interval's end
    w = Window.partitionBy("doc_id").orderBy("start")
    prev_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    contrib = F.greatest(
        F.lit(0),
        F.col("end")
        - F.greatest(F.coalesce(prev_end, F.lit(-1)), F.col("start") - 1),
    )
    per_doc = (
        dup.withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.sum("contrib").alias("dup_tokens"),
        )
    )
    return (
        toks.select(
            "doc_id",
            "n_tokens",
            F.greatest(F.col("n_tokens") - (n - 1), F.lit(0)).alias("n_grams"),
        )
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest("n_tokens", F.lit(1)),
                6,
            ).alias("dup_token_frac"),
        )
    )


def duplicate_span_stats_sql(n: int = 8) -> str:
    """DuckDB twin of :func:`duplicate_span_stats` — same portable
    gram hash (md5, seed ``span``), same corpus-frequency rule, same
    gaps-and-islands interval merge, so ``dup_token_frac`` is
    hash-identical across engines (integer-exact arithmetic until the
    final single division)."""
    gram_txt = f"array_to_string(list_slice(toks, i, i + {n - 1}), ' ')"
    gh = hash64_sql(gram_txt, seed="span")
    return f"""
    with sized as (
      select doc_id, toks, cast(len(toks) as bigint) as n_tokens
      from (select doc_id, {tokens_sql('text')} as toks from documents)
    ),
    g0 as (
      select doc_id,
             unnest(list_transform(
               range(1, greatest(n_tokens - {n - 1}, 0) + 1),
               i -> struct_pack(pos := i - 1, gh := {gh}))) as g
      from sized
    ),
    grams as (select doc_id, g.pos as pos, g.gh as gh from g0),
    freq as (select gh, count(*) as cnt from grams group by gh),
    dup as (
      select grams.doc_id, grams.pos as s, grams.pos + {n - 1} as e
      from grams join freq using (gh)
      where freq.cnt >= 2
    ),
    m as (
      select doc_id, s, e,
             max(e) over (partition by doc_id order by s
                          rows between unbounded preceding
                                   and 1 preceding) as pe
      from dup
    ),
    agg as (
      select doc_id,
             count(*) as n_dup_grams,
             sum(greatest(0, e - greatest(coalesce(pe, -1), s - 1)))
               as dup_tokens
      from m group by doc_id
    )
    select z.doc_id,
           cast(coalesce(agg.n_dup_grams, 0) as bigint) as n_dup_grams,
           round(coalesce(agg.dup_tokens, 0)
                 / greatest(z.n_tokens, 1), 6) as dup_token_frac
    from sized z left join agg using (doc_id)
    """
