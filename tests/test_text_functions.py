"""Cross-check of the tokenize/shingle expressions against an
independent Python reference over adversarial ASCII inputs — these
semantics underpin every dedup/text oracle, so drift here would break
the whole gate silently."""

from __future__ import annotations

import pytest

import random
import re

from pyspark.sql import functions as F

from map_reduce_sf_crime_spark.functions.text import shingles_col, tokens_col

WS = re.compile(r"\s+", re.ASCII)  # Java \s == ASCII whitespace
_TRANS = str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")


def py_tokens(text: str) -> list[str]:
    # ASCII-only fold — mirrors functions/text.py::ascii_lower_col
    return [t for t in WS.split(text.translate(_TRANS)) if t != ""]


def py_shingles(toks: list[str], n: int) -> list[str]:
    return [" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))]


def _corpus() -> list[str]:
    rng = random.Random(7)
    pieces = ["word", "WORD", "x", "a-b", "it's", '"q"', "1,2", "..", "", " "]
    ws = [" ", "  ", "\t", "\n", "\r\n", "\x0b", "\f"]
    texts = ["", " ", "\t\n", "one", "one two three four"]
    for _ in range(200):
        k = rng.randrange(0, 8)
        texts.append(
            "".join(
                rng.choice(pieces) + rng.choice(ws) for _ in range(k)
            )
        )
    return texts


def test_tokens_and_shingles_match_python(spark):
    texts = _corpus()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    rows = df.select(
        "i",
        tokens_col(F.col("text")).alias("tok"),
        shingles_col(tokens_col(F.col("text")), 3).alias("sh"),
    ).collect()
    assert len(rows) == len(texts)
    for r in rows:
        want_tok = py_tokens(texts[r.i])
        assert list(r.tok) == want_tok, (r.i, texts[r.i], list(r.tok), want_tok)
        assert list(r.sh) == py_shingles(want_tok, 3), (r.i, texts[r.i])


def test_hash64_cross_engine_unicode_parity(spark):
    """The portable md5 hash (foundation of every dedup/LSH oracle)
    must agree between Spark and DuckDB on non-ASCII too — the
    fixtures are ASCII-only, so this is the only place unicode parity
    is exercised."""
    import duckdb

    from map_reduce_sf_crime_spark.functions.hashing import hash64_col, hash64_sql

    texts = ["", "a", "héllo wörld", "日本語テキスト", "emoji 🎉 test",
             'quo"te', "tab\tnl\n", "ß", "İstanbul", "a,b|c;d"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, s string")
    srows = {r.i: r.h for r in
             df.select("i", hash64_col(F.col("s"), seed="x").alias("h")).collect()}
    con = duckdb.connect()
    for i, t in enumerate(texts):
        d = con.execute(f"select {hash64_sql('?', seed='x')}", [t]).fetchone()[0]
        assert d == srows[i], (t, srows[i], d)


@pytest.mark.slow
def test_adversarial_docs_cross_engine_parity(spark, tmp_path):
    """Full text/dedup oracle parity on an adversarial corpus the ASCII
    fixtures never exercise: unicode case ('İ', 'ß'), CJK, emoji,
    empty/1-token docs, exact twins, a 6000-token doc, non-ASCII
    whitespace. Caught the JDK-vs-utf8proc lower() divergence that
    motivated ASCII-only case folding."""
    import duckdb
    import pandas as pd

    from map_reduce_sf_crime_spark.operators import dedup, textops

    docs = [
        (0, "", "s", "en"), (1, "one", "s", "en"), (2, "two words", "s", "en"),
        (3, "héllo wörld ünïcode tëxt hére", "s", "de"),
        (4, "日本語 の テキスト です ね", "s", "zh"),
        (5, "İstanbul Straße ß MASSE", "s", "de"),
        (6, "a b " * 3000, "s", "en"),
        (7, "same doc text here", "s", "en"), (8, "same doc text here", "s", "en"),
        (9, " nbsp separated tokens", "s", "en"),
        (10, "emoji 🎉 in 🎉 text 🎉 here", "s", "en"),
    ]
    path = str(tmp_path / "documents.parquet")
    pd.DataFrame(docs, columns=["doc_id", "text", "source", "lang"]).to_parquet(path)
    sdf = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute(f"create view documents as select * from '{path}'")

    profile = textops.text_profile(sdf)
    checks = [
        ("token_stats",
         profile.select(
             "doc_id", "n_chars", "n_tokens", "n_bpe_tokens", "n_unique_tokens"
         ),
         textops.TOKEN_STATS_SQL),
        ("lang_id", profile.select("doc_id", "lang_pred"),
         f"select doc_id, lang_pred from ({textops.LANG_ID_SQL})"),
        ("quality", textops.quality_scores(sdf), textops.quality_scores_sql()),
        ("near_dup", dedup.near_dup_pairs_exact(sdf, 3, 0.5),
         dedup.near_dup_pairs_exact_sql(3, 0.5)),
        ("simhash", dedup.simhash(sdf), dedup.simhash_sql()),
        ("minhash", dedup.minhash_signatures(sdf), dedup.minhash_signatures_sql()),
        ("fingerprints", textops.fingerprints(sdf), textops.fingerprints_sql()),
    ]
    for name, spark_df, sql in checks:
        srows = sorted(tuple(str(x) for x in r) for r in spark_df.collect())
        orows = sorted(tuple(str(x) for x in r) for r in con.execute(sql).fetchall())
        assert srows == orows, name


def test_pii_scrub_redacts_planted_pii(spark):
    from pyspark.sql import Row

    from map_reduce_sf_crime_spark.operators import textops

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="contact bob at bob.smith+x@mail.example.com ok", lang="en"),
            Row(doc_id=2, text="call 415-555-1234 or ssn 123-45-6789 now", lang="en"),
            Row(doc_id=3, text="clean text with no identifiers at all", lang="en"),
        ]
    )
    out = {r.doc_id: r for r in textops.text_profile(docs).collect()}
    assert out[1].n_email == 1 and out[1].n_phone == 0 and out[1].n_ssn == 0
    assert out[2].n_phone == 1 and out[2].n_ssn == 1 and out[2].n_email == 0
    assert out[3].n_email == out[3].n_phone == out[3].n_ssn == 0

    # the checksum proves the rewrite: planted docs get a DIFFERENT
    # md5 than their raw text, clean docs an IDENTICAL one
    import hashlib

    raw = {1: "contact bob at bob.smith+x@mail.example.com ok",
           2: "call 415-555-1234 or ssn 123-45-6789 now",
           3: "clean text with no identifiers at all"}
    for i in (1, 2):
        assert out[i].redacted_md5 != hashlib.md5(raw[i].encode()).hexdigest()
    assert out[3].redacted_md5 == hashlib.md5(raw[3].encode()).hexdigest()

    # redacted text matches the explicit expectation
    red = docs.select(
        "doc_id", textops.F.md5(textops.F.lit("call <pii> or ssn <pii> now")).alias("m")
    ).first()
    assert out[2].redacted_md5 == red.m


def test_repetition_stats_detects_loops(spark):
    from pyspark.sql import Row

    from map_reduce_sf_crime_spark.operators import textops

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spam spam spam spam spam", lang="en"),
            Row(doc_id=2, text="all words here are fully distinct tokens", lang="en"),
            Row(doc_id=3, text="one", lang="en"),
        ]
    )
    out = {r.doc_id: r for r in textops.text_profile(docs).collect()}
    assert out[1].top_bigram_ratio == 1.0  # only bigram is "spam spam"
    assert out[1].n_bigrams == 4
    # distinct text: every bigram unique -> ratio = 1/n_bigrams
    assert abs(out[2].top_bigram_ratio - 1 / out[2].n_bigrams) < 1e-12
    assert out[3].n_bigrams == 0 and out[3].top_bigram_ratio == 0.0


def test_dup_span_stats_planted(spark):
    from map_reduce_sf_crime_spark.operators.textops import dup_span_stats

    shared = "one two three four five"  # exactly one 5-gram
    docs = spark.createDataFrame(
        [
            (1, shared),                        # fully duplicated vs doc 2
            (2, shared + " six seven"),         # 3 grams, 1 shared
            (3, "alpha beta gamma delta epsilon"),  # unique
            (4, "tiny"),                        # no 5-grams at all
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dup_span_stats(docs, n=5).collect()}
    assert out[1].n_span_grams == 1 and out[1].dup_span_frac == 1.0
    # doc 2: grams = [one..five, two..six, three..seven]; only the
    # first occurs elsewhere
    assert out[2].n_span_grams == 3
    assert abs(out[2].dup_span_frac - 1 / 3) < 1e-12
    assert out[3].dup_span_frac == 0.0
    assert out[4].n_span_grams == 0 and out[4].dup_span_frac == 0.0


def test_dup_span_within_doc_repeat_not_cross_doc(spark):
    """A gram repeated only WITHIN one doc is not cross-doc duplicated."""
    from map_reduce_sf_crime_spark.operators.textops import dup_span_stats

    docs = spark.createDataFrame(
        [(1, "a b c d e a b c d e"), (2, "x y z w v")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dup_span_stats(docs, n=5).collect()}
    assert out[1].dup_span_frac == 0.0
    assert out[2].dup_span_frac == 0.0


def test_unigram_commonness_matches_duckdb_twin(spark):
    """Corpus-adaptive commonness/OOV score: Spark == DuckDB twin
    bit-for-bit on sf0.01 documents (integer-exact ratios)."""
    import duckdb

    from map_reduce_sf_crime_spark.operators import termstats
    from map_reduce_sf_crime_spark.sources.parquet import load_table

    from .conftest import SF_CHECK

    docs = load_table(spark, SF_CHECK, "documents")
    got = {
        (r.doc_id, r.n_toks, r.mean_tf_ppm, r.oov_frac)
        for r in termstats.unigram_commonness(docs).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"create view documents as "
        f"select * from '{SF_CHECK}/documents.parquet'"
    )
    want = {
        tuple(r)
        for r in con.sql(termstats.unigram_commonness_sql()).fetchall()
    }
    assert got == want


def test_unigram_commonness_semantics(spark):
    """Hand-checkable fixture: boilerplate scores high, a hapax-only
    doc is pure OOV, an empty doc survives with zeroed stats."""
    from map_reduce_sf_crime_spark.operators import termstats

    rows = [
        (1, "the cat sat on the mat", "en", "s", 1),
        (2, "the dog sat on the rug", "en", "s", 1),
        (3, "zxqv wplk", "en", "s", 1),  # two hapaxes
        (4, "", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = {r.doc_id: r for r in termstats.unigram_commonness(df).collect()}
    assert out[4].n_toks == 0 and out[4].oov_frac == 0.0
    assert out[3].oov_frac == 1.0  # every token below min_df
    assert out[1].oov_frac < 1.0
    # docs 1/2 share most tokens -> higher mean commonness than doc 3
    assert out[1].mean_tf_ppm > out[3].mean_tf_ppm
    # n_toks is the raw token count (repeats included)
    assert out[1].n_toks == 6


def test_term_stats_ledger_fold(spark):
    """Persisted term-stats ledger (TF1 catalog): base build + N
    change-feed folds must serve token_doc_freq byte-identically to
    the live recompute over the post-change corpus — deletes
    subtract, updates shift only changed tokens, inserts add, doc
    count tracks. Plus: replaying a fold cannot double-count
    (full-row distinct collapse), compaction preserves the totals
    while dropping dead tokens, and both the read and the fold ride
    the token-bucketed layout."""
    from map_reduce_sf_crime_spark.operators import termstats
    from map_reduce_sf_crime_spark.sources.parquet import load_table

    from .conftest import SF_CHECK

    docs = load_table(spark, SF_CHECK, "documents").select("doc_id", "text")
    spark.sql("drop table if exists ts_ledger")
    tbl = "ts_ledger"

    base_pred = F.col("doc_id") % 5 != 4
    termstats.write_term_stats(docs.filter(base_pred), tbl)

    # fold: delete %10==0 of the base, rewrite %10==1's text
    # (reversed words → same tf per token? no — different shingle
    # order but same token multiset; so ALSO drop the last word to
    # really change counts), insert the held-out %5==4 slice
    upd_post = docs.filter(base_pred & (F.col("doc_id") % 10 == 1)).withColumn(
        "text", F.concat_ws(" ", F.slice(F.split("text", r"\s+"), 1, 5))
    )
    changes = (
        docs.filter(base_pred & (F.col("doc_id") % 10 == 0) & (F.col("doc_id") % 10 != 1))
        .withColumn("_change_type", F.lit("delete"))
        .unionByName(
            docs.filter(base_pred & (F.col("doc_id") % 10 == 1)).withColumn(
                "_change_type", F.lit("update_preimage")
            )
        )
        .unionByName(upd_post.withColumn("_change_type", F.lit("update_postimage")))
        .unionByName(
            docs.filter(~base_pred).withColumn("_change_type", F.lit("insert"))
        )
        .localCheckpoint()
    )
    termstats.apply_changes_to_term_stats(spark, changes, tbl, gen=1)

    post_corpus = (
        docs.filter(base_pred & (F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 1))
        .unionByName(upd_post)
        .unionByName(docs.filter(~base_pred))
        .localCheckpoint()
    )

    def rows(df):
        return [tuple(r) for r in df.collect()]

    got = rows(termstats.token_doc_freq_cataloged(spark, tbl, 50))
    want = rows(termstats.token_doc_freq(post_corpus, 50))
    assert got == want

    # replayed fold: byte-identical rows collapse, totals unchanged
    termstats.apply_changes_to_term_stats(spark, changes, tbl, gen=1)
    assert rows(termstats.token_doc_freq_cataloged(spark, tbl, 50)) == want

    # totals survive compaction; dead tokens physically drop
    termstats.compact_term_stats(spark, tbl)
    assert rows(termstats.token_doc_freq_cataloged(spark, tbl, 50)) == want
    n_gens = spark.table(tbl).select("gen").distinct().count()
    assert n_gens == 1

    # layout: the cataloged read's ledger scan rides the bucket spec
    plan = (
        termstats.token_doc_freq_cataloged(spark, tbl, 50)
        ._jdf.queryExecution().executedPlan().toString()
    )
    scan_lines = [l for l in plan.splitlines() if tbl in l]
    assert scan_lines and "SelectedBucketsCount" in "\n".join(scan_lines)

    spark.sql("drop table if exists ts_ledger")


def test_gopher_stats_planted_and_duckdb_twin(spark):
    """TX7 Gopher rules: a planted fixture exercises every bound —
    too-short, loop-heavy (top-trigram), dup-5-gram-heavy (the flag
    term the synthetic gate corpus cannot reach), long-word (mean
    word length), and a clean passing doc — and every emitted value
    is bit-identical to the DuckDB brute-force twin."""
    import duckdb

    from map_reduce_sf_crime_spark.operators import textops

    clean = " ".join(f"tok{i % 97}word extra{i % 89}" for i in range(40))
    loops = "spark table " * 60  # one dominant bigram/trigram
    dup5 = ("alpha beta gamma delta epsilon " * 2 + "zeta ") * 12
    longw = " ".join("hippopotamus" + str(i) for i in range(60))
    rows = [
        (0, clean),
        (1, loops.strip()),
        (2, dup5.strip()),
        (3, longw),
        (4, "tiny doc"),
        (5, ""),
        (6, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.gopher_stats(docs).collect()}
    assert got[0].gopher_ok == 1
    # loop doc: dominated top trigram -> fails the 0.18 bound
    assert got[1].top_trigram_ratio > textops.GOPHER_MAX_TOP3_RATIO
    assert got[1].gopher_ok == 0
    # dup5 doc: repeated 5-gram windows -> the 5-gram flag term fires
    assert got[2].dup_2gram_mass > 0.5
    assert got[2].gopher_ok == 0
    # long words -> mean word length above 10
    assert got[3].mean_word_len > textops.GOPHER_MAX_MEAN_WORD_LEN
    assert got[3].gopher_ok == 0
    # short/empty/null docs fail the word-count bound with 0-ratios
    for d in (4, 5, 6):
        assert got[d].gopher_ok == 0
        assert got[d].dup_2gram_mass == 0.0 or d == 4
    con = duckdb.connect()
    con.register(
        "documents_py",
        __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]),
    )
    want = {
        r[0]: r
        for r in con.sql(
            textops.gopher_stats_sql("documents_py")
        ).fetchall()
    }
    for d, r in got.items():
        assert (
            r.g_n_words,
            r.mean_word_len,
            r.top_trigram_ratio,
            r.dup_2gram_mass,
            r.gopher_ok,
        ) == want[d][1:], d
