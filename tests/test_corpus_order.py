"""Unit invariants for the corpus-ordering operators: token-window
chunking (CH1), chunk packing (PK1 at chunk granularity), the
deterministic global shuffle index (SH1), and the df_ppm IDF input
(TF1) — properties the value-hash oracle can't express (permutation
completeness, reconstruction, overlap coverage, two-phase/naive
equivalence)."""

from __future__ import annotations

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from map_reduce_sf_crime_spark.functions.hashing import hash64_col
from map_reduce_sf_crime_spark.functions.text import tokens_col
from map_reduce_sf_crime_spark.operators import packing, sampling
from map_reduce_sf_crime_spark.sources.parquet import load_table

from .conftest import SF_SMOKE


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


def test_chunks_reconstruct_documents(spark):
    chunk_tokens = 32
    docs = _docs(spark)
    chunks = packing.chunk_documents(docs, chunk_tokens).cache()
    sized = docs.select(
        "doc_id", F.size(tokens_col(F.col("text"))).alias("doc_tok")
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.sum("n_tok").alias("tok_sum"),
        F.max("n_tok").alias("tok_max"),
        F.min("chunk_id").alias("lo"),
        F.max("chunk_id").alias("hi"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    joined = per_doc.join(sized, "doc_id")
    # no overlap: chunk tokens partition the document's tokens exactly
    assert joined.filter(F.col("tok_sum") != F.col("doc_tok")).count() == 0
    assert joined.filter(F.col("tok_max") > chunk_tokens).count() == 0
    # chunk ids contiguous 0..n-1 per doc
    assert (
        joined.filter(
            (F.col("lo") != 0) | (F.col("n_chunks") != F.col("hi") + 1)
        ).count()
        == 0
    )
    # the data must actually exercise multi-chunk explosion
    assert joined.filter(F.col("n_chunks") > 1).count() > 0


def test_chunk_overlap_coverage(spark):
    chunk_tokens, overlap = 32, 8
    stride = chunk_tokens - overlap
    docs = _docs(spark)
    chunks = packing.chunk_documents(docs, chunk_tokens, overlap=overlap)
    sized = docs.select(
        "doc_id", F.size(tokens_col(F.col("text"))).alias("doc_tok")
    )
    last = chunks.groupBy("doc_id").agg(
        F.max("chunk_id").alias("last_id"), F.max("n_tok").alias("tok_max")
    )
    j = last.join(sized, "doc_id")
    assert j.filter(F.col("tok_max") > chunk_tokens).count() == 0
    # every token is covered: the last window reaches the end...
    uncovered = j.filter(
        F.col("last_id") * stride + chunk_tokens
        < F.greatest(F.col("doc_tok"), F.lit(1))
    )
    assert uncovered.count() == 0
    # ...and no fully-redundant trailing window was emitted
    redundant = j.filter(
        (F.col("last_id") > 0)
        & ((F.col("last_id") - 1) * stride + chunk_tokens >= F.col("doc_tok"))
    )
    assert redundant.count() == 0


def test_global_shuffle_pos_is_exact_permutation(spark):
    docs = _docs(spark)
    out = sampling.with_global_shuffle_pos(
        docs.select("doc_id", "lang")
    ).cache()
    n = docs.count()
    # a permutation: n distinct values spanning exactly [0, n)
    agg = out.agg(
        F.countDistinct("shuffle_pos").alias("d"),
        F.min("shuffle_pos").alias("lo"),
        F.max("shuffle_pos").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert (agg.d, agg.lo, agg.hi, agg.n) == (n, 0, n - 1, n)
    # two-phase form == the naive single-partition window
    h = hash64_col(F.col("doc_id").cast("string"), seed=sampling.SHUFFLE_SEED)
    naive = docs.select(
        "doc_id",
        (
            F.row_number().over(Window.orderBy(h.alias("h"), "doc_id")) - 1
        ).alias("naive_pos"),
    )
    diff = out.join(naive, "doc_id").filter(
        F.col("shuffle_pos") != F.col("naive_pos")
    )
    assert diff.count() == 0
    # passthrough columns survive
    assert set(out.columns) == {"doc_id", "lang", "shuffle_pos"}


def test_df_ppm_matches_definition(spark):
    from map_reduce_sf_crime_spark.operators import termstats

    docs = _docs(spark)
    n = docs.count()
    rows = termstats.token_doc_freq(docs, 20).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.df_ppm == (r.df * 1_000_000) // n
        assert 0 < r.df_ppm <= 1_000_000


def test_temperature_mix_weights(spark):
    docs = _docs(spark)
    w = sampling.temperature_mix_weights(docs).collect()
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    assert {r.lang for r in w} == langs
    total = sum(r.mix_weight_ppm for r in w)
    # floor() loses < 1 ppm per language
    assert 1_000_000 - len(langs) <= total <= 1_000_000
    # √-damping preserves count order but compresses the ratio
    counts = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    pairs = sorted(w, key=lambda r: counts[r.lang])
    for a, b in zip(pairs, pairs[1:]):
        assert a.mix_weight_ppm <= b.mix_weight_ppm
    hi, lo = pairs[-1], pairs[0]
    if counts[lo.lang] < counts[hi.lang]:
        assert (
            hi.mix_weight_ppm / lo.mix_weight_ppm
            < counts[hi.lang] / counts[lo.lang]
        )


def test_cdc_chunks_edit_stable(spark):
    """Content-defined chunking: prepending a token to a document
    must leave every chunk after the first boundary byte-identical
    (fixed windows shift everything). Also checks exact coverage and
    agreement between the exploded form and the counting projection."""
    toks = [f"t{(i * 7) % 53}" for i in range(300)]
    base = " ".join(toks)
    mod = "zzz " + base
    df = spark.createDataFrame(
        [(1, base, "s"), (2, mod, "s")],
        "doc_id long, text string, source string",
    )
    rows = packing.chunk_documents_cdc(df).collect()

    def pieces(doc_toks, doc_id):
        rs = sorted(
            (r for r in rows if r.doc_id == doc_id), key=lambda r: r.chunk_id
        )
        # contiguous, exact coverage
        pos = 0
        out = []
        for r in rs:
            assert r.start == pos
            out.append(tuple(doc_toks[r.start : r.start + r.n_tok]))
            pos += r.n_tok
        assert pos == len(doc_toks)
        return out

    base_p = pieces(toks, 1)
    mod_p = pieces(["zzz"] + toks, 2)
    assert len(base_p) > 5  # content actually produced boundaries
    # every base chunk after the first boundary survives the edit
    assert set(base_p[1:]) <= set(mod_p)
    # counting projection == exploded form
    counts = {
        r.doc_id: r.n_cdc_chunks
        for r in packing.cdc_chunk_counts(df).collect()
    }
    assert counts == {1: len(base_p), 2: len(mod_p)}


def test_global_shuffle_pos_keeps_null_keys(spark):
    """md5(NULL) is NULL — without the coalesce a NULL-key row would
    get a NULL bucket and silently vanish through the offsets join."""
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, "c")], "doc_id long, lang string"
    )
    out = sampling.with_global_shuffle_pos(df).collect()
    assert len(out) == 3
    assert sorted(r.shuffle_pos for r in out) == [0, 1, 2]


def test_global_shuffle_pos_multi_null_matches_oracle(spark):
    """>1 NULL-key rows all hash the '' sentinel, so they tie on BOTH
    sort columns. The contract (operators/sampling.py): non-tied rows
    get engine-identical positions, and the tied rows occupy the same
    deterministic contiguous BLOCK of positions in both engines —
    order within the block is arbitrary (no third column exists to
    totalize the sort), so the assertion compares the block as a set,
    not row-by-row (row-by-row would be flaky at any parallelism)."""
    import duckdb

    rows = [(1, "a"), (None, "b"), (2, "c"), (None, "d"), (None, "e"), (7, "f")]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {
        (r.doc_id, r.shuffle_pos)
        for r in sampling.with_global_shuffle_pos(df).collect()
    }
    con = duckdb.connect()
    con.execute(
        "create table d as select * from (values "
        + ", ".join(
            f"({ 'NULL' if k is None else k }, '{v}')" for k, v in rows
        )
        + ") t(doc_id, lang)"
    )
    want = {
        (r[0], r[1])
        for r in con.sql(
            "select doc_id, shuffle_pos from ("
            + sampling.global_shuffle_pos_sql("select * from d")
            + ")"
        ).fetchall()
    }
    got_nonnull = {(k, p) for k, p in got if k is not None}
    want_nonnull = {(k, p) for k, p in want if k is not None}
    assert got_nonnull == want_nonnull
    got_null_slots = sorted(p for k, p in got if k is None)
    want_null_slots = sorted(p for k, p in want if k is None)
    assert got_null_slots == want_null_slots  # same contiguous block
    assert len(got) == len(rows)


def test_temperature_mix_weights_null_lang_matches_oracle(spark):
    """A NULL lang stratum must fold in the same position on both
    engines (coalesced to '' before the sort) or the float total — and
    with it every floor()'d weight — can drift one ulp."""
    import duckdb
    import pandas as pd

    rows = [(i, "x", ["en", "de", None][i % 3], "s", 1) for i in range(90)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    got = {
        (r.lang, r.mix_weight_ppm)
        for r in sampling.temperature_mix_weights(df).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"]),
    )
    want = {(r[0], r[1]) for r in con.sql(sampling.MIX_WEIGHT_SQL).fetchall()}
    assert got == want


def _cap_fixture(spark):
    """Mixed shapes: a dominant source, a tiny one, equal-score runs
    straddling the cap boundary, NULL scores, and a NULL group."""
    rows = []
    for i in range(400):
        rows.append((i, "big", 0.25 + (i % 50) / 100.0))  # scores .25..0.74
    for i in range(400, 408):
        rows.append((i, "small", 0.9))
    for i in range(408, 420):
        rows.append((i, "big", None))  # NULL scores rank last
    for i in range(420, 440):
        rows.append((i, None, (i % 10) / 10.0))  # NULL group is a group
    for i in range(440, 460):
        rows.append((i, "ties", 0.5))  # one equal-score run > cap
    return spark.createDataFrame(
        rows, "doc_id long, source string, score double"
    )


def test_per_group_cap_equals_naive_window(spark):
    df = _cap_fixture(spark)
    for cap in (0, 1, 10, 100, 1000):
        got = {
            (r.doc_id, r.source, r.kept)
            for r in sampling.per_group_cap_flags(df, cap).collect()
        }
        want = {
            (r.doc_id, r.source, r.kept)
            for r in sampling.per_group_cap_naive(df, cap).collect()
        }
        assert got == want, f"cap={cap}"
        assert len(got) == df.count(), f"cap={cap}: rows lost"


def test_per_group_cap_bucket_count_invariance(spark):
    """The bucket count is a pure performance knob: any power-of-two
    choice keeps the identical doc set."""
    df = _cap_fixture(spark)
    base = {
        (r.doc_id, r.kept)
        for r in sampling.per_group_cap_flags(df, 25, buckets=256).collect()
    }
    for b in (4, 16, 1024):
        other = {
            (r.doc_id, r.kept)
            for r in sampling.per_group_cap_flags(df, 25, buckets=b).collect()
        }
        assert other == base, f"buckets={b}"


def test_per_group_cap_matches_duckdb_twin(spark):
    import duckdb
    import pandas as pd

    df = _cap_fixture(spark)
    got = {
        (r.doc_id, r.kept)
        for r in sampling.per_group_cap_flags(df, 30, score_col="score").collect()
    }
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = {
        (r[0], r[2])
        for r in con.sql(sampling.per_group_cap_sql(30)).fetchall()
    }
    assert got == want


def test_per_group_cap_rejects_bad_args(spark):
    import pytest

    df = _cap_fixture(spark)
    with pytest.raises(ValueError):
        sampling.per_group_cap_flags(df, -1)
    with pytest.raises(ValueError):
        sampling.per_group_cap_flags(df, 5, lo=1.0, hi=0.0)


def test_training_shard_export_physical(spark):
    """EX1 physical sink (write_training_shards): one pos-sorted file
    per shard directory, shards partition a gapless 0..total-1 pos
    range into the exact contiguous blocks the block rule declares,
    every doc lands in exactly one shard, in-file row order is
    strictly increasing pos (a trainer's sequential read IS the
    training order), the manifest matches the data, a re-export is
    row-identical, and a torn export (a shard dir dropped after the
    manifest was written) fails verify_training_shards loudly."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq
    import pytest

    from map_reduce_sf_crime_spark.operators import export

    n_shards = 8
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    ordered = sampling.with_global_shuffle_pos(docs)
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", "train_shards",
    )
    shutil.rmtree(out, ignore_errors=True)
    export.write_training_shards(ordered, out, n_shards, "shuffle_pos")

    total = docs.count()
    block = -(-total // n_shards)
    manifest = {
        r.shard_id: (r.n_docs, r.min_pos, r.max_pos)
        for r in export.verify_training_shards(
            spark, out, "shuffle_pos"
        ).collect()
    }
    assert set(manifest) == set(range(n_shards))
    assert sum(n for n, _, _ in manifest.values()) == total

    want_order = [
        r.doc_id for r in ordered.orderBy("shuffle_pos").collect()
    ]
    seen = []
    for k in range(n_shards):
        files = glob.glob(os.path.join(out, f"shard_id={k}", "*.parquet"))
        assert len(files) == 1, (k, files)  # one task, one file
        t = pq.read_table(files[0])
        pos = t.column("shuffle_pos").to_pylist()
        assert pos == sorted(pos)  # sequential read == training order
        lo, hi = k * block, min((k + 1) * block, total) - 1
        assert (pos[0], pos[-1]) == (lo, hi)
        assert manifest[k] == (len(pos), lo, hi)
        seen.extend(t.column("doc_id").to_pylist())
    assert seen == want_order  # the export IS the global order

    # deterministic re-export
    export.write_training_shards(ordered, out, n_shards, "shuffle_pos")
    again = []
    for k in range(n_shards):
        f = glob.glob(os.path.join(out, f"shard_id={k}", "*.parquet"))[0]
        again.extend(pq.read_table(f).column("doc_id").to_pylist())
    assert again == want_order

    # torn export detection
    shutil.rmtree(os.path.join(out, "shard_id=3"))
    with pytest.raises(ValueError, match="manifest"):
        export.verify_training_shards(spark, out, "shuffle_pos")
    shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# SM3: DSIR-style importance resampling
# ---------------------------------------------------------------------------


def test_per_group_frac_equals_naive_window(spark):
    """The fractional quota (frac_den) keeps the identical doc set as
    the one-window-per-group reference, across group shapes including
    NULL scores and a NULL group, for several denominators."""
    df = _cap_fixture(spark)
    for den in (1, 3, 7, 100, 10000):
        got = {
            (r.doc_id, r.source, r.kept)
            for r in sampling.per_group_cap_flags(
                df, cap=None, frac_den=den
            ).collect()
        }
        want = {
            (r.doc_id, r.source, r.kept)
            for r in sampling.per_group_frac_naive(df, den).collect()
        }
        assert got == want, f"frac_den={den}"
        assert len(got) == df.count(), f"frac_den={den}: rows lost"


def test_per_group_cap_frac_arg_validation(spark):
    import pytest

    df = _cap_fixture(spark)
    with pytest.raises(ValueError, match="exactly one"):
        sampling.per_group_cap_flags(df, cap=None, frac_den=None)
    with pytest.raises(ValueError, match="exactly one"):
        sampling.per_group_cap_flags(df, cap=5, frac_den=5)
    with pytest.raises(ValueError, match="frac_den"):
        sampling.per_group_cap_flags(df, cap=None, frac_den=0)


def _dsir_fixture(spark):
    """Target docs share a distinctive vocabulary; one non-target doc
    is written in it (should score HIGH), one is junk n-grams (should
    score LOW); plus an empty and a NULL text (score exactly 0)."""
    target_text = "solar panel efficiency improves with tracking mounts"
    rows = [
        (0, target_text, "en"),
        (1, "solar panel tracking mounts improve efficiency", "en"),
        (2, "panel efficiency with solar tracking", "en"),
        (3, "solar panel efficiency tracking mounts again", None),  # target-like, not in target slice
        (4, "zqx wvk jjr pplm qqrs zzv xkcd blorp", None),  # junk
        (5, "", None),
        (6, None, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dsir_scores_semantics(spark):
    docs = _dsir_fixture(spark)
    scored = sampling.dsir_scores(
        docs, target=F.col("lang") == F.lit("en"), n_buckets=64
    )
    s = {r.doc_id: r.dsir_score_unat for r in scored.collect()}
    assert len(s) == 7
    # target-vocabulary doc outranks the junk doc decisively
    assert s[3] > s[4]
    # gram-less docs score exactly 0
    assert s[5] == 0 and s[6] == 0
    # junk grams appear nowhere in the target slice -> negative ratio
    assert s[4] < 0


def test_dsir_matches_duckdb_twin(spark):
    """Scores AND the fractional keep flag are bit-identical to the
    DuckDB twin over the real documents table (the gate's exactness
    claim, checked directly)."""
    import duckdb

    docs = load_table(spark, SF_SMOKE, "documents")
    scored = sampling.dsir_scores(docs, target=F.col("lang") == F.lit("en"))
    got = {
        (r.doc_id, r.dsir_score_unat, r.dsir_kept)
        for r in sampling.dsir_flags(scored).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"create view documents as select * from "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    want = {
        (r[0], r[1], r[2])
        for r in con.sql(
            sampling.dsir_flags_sql(sampling.dsir_scores_sql())
        ).fetchall()
    }
    assert got == want
    # the fraction actually selects (not all-kept / none-kept)
    kept = sum(1 for _, _, k in got if k == 1)
    assert 0 < kept < len(got)
    assert kept == max(1, len(got) // sampling.DSIR_KEEP_DEN)


def test_dsir_score_partitioning_invariance(spark):
    """Scores are a pure function of the corpus: repartitioning the
    input changes nothing (no RNG state, no partition sensitivity)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    target = F.col("lang") == F.lit("en")
    a = {
        (r.doc_id, r.dsir_score_unat)
        for r in sampling.dsir_scores(docs, target).collect()
    }
    b = {
        (r.doc_id, r.dsir_score_unat)
        for r in sampling.dsir_scores(docs.repartition(13), target).collect()
    }
    assert a == b


def test_gumbel_topk_matches_reference(spark):
    """The Gumbel-perturbed selection equals an independently computed
    reference: same seeded-hash uniforms, same key formula, same
    top-floor(n/den) rule (numpy/python arithmetic)."""
    import hashlib
    import math

    docs = load_table(spark, SF_SMOKE, "documents")
    scored = sampling.dsir_scores(docs, target=F.col("lang") == F.lit("en"))
    rows = {r.doc_id: r.dsir_score_unat for r in scored.collect()}
    den = 4
    got = {
        (r.doc_id, r.kept)
        for r in sampling.gumbel_topk_flags(scored, frac_den=den).collect()
    }

    def h64(s: str, seed: str) -> int:
        return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:15], 16)

    keys = {}
    for doc_id, score in rows.items():
        u = (h64(str(doc_id), "gumbel") + 1) / (2**60 + 1)
        keys[doc_id] = score / 1e6 - math.log(-math.log(u))
    k = max(1, len(rows) // den)
    order = sorted(rows, key=lambda d: (-keys[d], d))
    want_kept = set(order[:k])
    want = {(d, 1 if d in want_kept else 0) for d in rows}
    assert got == want


@pytest.mark.slow
def test_fused_commonness_dsir_equals_unfused(spark):
    """The round-6 fused TF2+SM3 scorer (one tokenize, one doc-keyed
    aggregate, one spine join) is bit-identical to composing
    unigram_commonness and dsir_scores — on the real documents table
    AND on the edge fixture (empty/NULL text, non-target docs)."""
    from map_reduce_sf_crime_spark.operators import termstats

    target = F.col("lang") == F.lit("en")
    for docs in (
        load_table(spark, SF_SMOKE, "documents"),
        _dsir_fixture(spark),
    ):
        want_c = {
            (r.doc_id, r.n_toks, r.mean_tf_ppm, r.oov_frac)
            for r in termstats.unigram_commonness(docs, min_df=50).collect()
        }
        want_d = {
            (r.doc_id, r.dsir_score_unat)
            for r in sampling.dsir_scores(docs, target).collect()
        }
        fused = sampling.commonness_dsir_scores(
            docs, target, min_df=50
        ).collect()
        assert {
            (r.doc_id, r.n_toks, r.mean_tf_ppm, r.oov_frac) for r in fused
        } == want_c
        assert {(r.doc_id, r.dsir_score_unat) for r in fused} == want_d


def test_fused_commonness_dsir_plan_shape(spark):
    """The fused scorer folds the two doc-keyed merges of the unfused
    composition into one. Plan-text Generate/Exchange counts are
    inflated by cache-subtree expansion (every InMemoryTableScan
    prints its cached child plan), so the assertion uses
    SortMergeJoin — cached subtrees contain none, making the count
    honest: the fused plan carries at most ONE data-sized merge join
    (the token-keyed vocabulary join), strictly fewer than unfused."""
    from map_reduce_sf_crime_spark.operators import termstats

    docs = load_table(spark, SF_SMOKE, "documents")
    t = F.col("lang") == F.lit("en")

    def smj(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("SortMergeJoin")

    fused = sampling.commonness_dsir_scores(docs, t, min_df=50)
    unfused = sampling.dsir_scores(
        docs, t, base=termstats.unigram_commonness(docs, min_df=50)
    )
    assert smj(fused) <= 1
    assert smj(fused) < smj(unfused)


def test_token_budget_quotas_exact_apportionment(spark):
    """MX2: largest-remainder token-budget apportionment — quotas sum
    EXACTLY to the budget, match an independent python mirror
    (including remainder ties broken on the stratum key), and the
    degenerate budgets behave (0 → all zero; budget < #strata → one
    token to each largest remainder)."""
    rows = [("en", 400), ("de", 250), ("es", 250), ("fr", 99), ("zh", 1)]
    weights = spark.createDataFrame(rows, "lang string, mix_weight_ppm long")

    def mirror(budget):
        tw = sum(w for _, w in rows)
        base = {k: (w * budget) // tw for k, w in rows}
        rem = {k: (w * budget) % tw for k, w in rows}
        left = budget - sum(base.values())
        for k in sorted(rem, key=lambda k: (-rem[k], k))[:left]:
            base[k] += 1
        return base

    for budget in (0, 3, 1000, 10_000_001):
        got = {
            r.lang: r.token_quota
            for r in sampling.token_budget_quotas(weights, budget).collect()
        }
        assert got == mirror(budget), budget
        assert sum(got.values()) == budget

    # cross-engine: the SQL twin is bit-identical on the real corpus
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"create view documents as select * from "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    docs = load_table(spark, SF_SMOKE, "documents")
    w = sampling.temperature_mix_weights(docs)
    got = {
        r.lang: r.token_quota
        for r in sampling.token_budget_quotas(w, 10_000_001).collect()
    }
    want = dict(
        con.sql(
            sampling.token_budget_quotas_sql(
                10_000_001, sampling.MIX_WEIGHT_SQL
            )
        ).fetchall()
    )
    assert got == want
    assert sum(got.values()) == 10_000_001


def test_with_prefix_sum_equals_naive_window(spark):
    """MX3's primitive: the two-phase range-bucketed prefix sum equals
    the naive one-window-per-partition form on the real corpus (every
    bucket count), NULL values count as 0, and pass-through columns
    survive."""
    docs = sampling.with_global_shuffle_pos(
        _docs(spark).select("doc_id", "lang", "n_chars")
    )
    naive = docs.withColumn(
        "want",
        F.sum(F.coalesce(F.col("n_chars").cast("long"), F.lit(0))).over(
            Window.partitionBy("lang")
            .orderBy("shuffle_pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    for buckets in (1, 4, 64):
        got = sampling.with_prefix_sum(
            docs, "lang", "shuffle_pos", "n_chars", buckets=buckets
        )
        diff = got.join(naive.select("doc_id", "want"), "doc_id").filter(
            F.col("prefix_sum") != F.col("want")
        )
        assert diff.count() == 0, buckets
        assert set(got.columns) == {
            "doc_id", "lang", "n_chars", "shuffle_pos", "prefix_sum"
        }
    # NULL values contribute 0 without poisoning later rows
    df = spark.createDataFrame(
        [(0, "a", 5), (1, "a", None), (2, "a", 7)],
        "doc_id long, lang string, n_chars int",
    ).withColumn("shuffle_pos", F.col("doc_id"))
    got = {
        r.doc_id: r.prefix_sum
        for r in sampling.with_prefix_sum(
            df, "lang", "shuffle_pos", "n_chars", buckets=2
        ).collect()
    }
    assert got == {0: 5, 1: 5, 2: 12}
