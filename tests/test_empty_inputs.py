"""Empty-input robustness: every non-trivial operator must return an
empty (or correctly-degenerate) result on empty input, not crash —
at 100 TB some partition/filter combination WILL be empty."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from map_reduce_sf_crime_spark.operators import dedup, multimodal, similarity, textops
from map_reduce_sf_crime_spark.sources.parquet import load_table

from .conftest import SF_SMOKE


def _empty_docs(spark):
    return load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 0)


def _empty_emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").filter(F.col("vec_id") < 0)


def test_dedup_ops_on_empty(spark):
    docs = _empty_docs(spark)
    assert dedup.dedup_keep_first(docs).count() == 0
    assert dedup.near_dup_pairs_exact(docs).count() == 0
    assert dedup.lsh_near_dup_pairs(docs).count() == 0
    assert dedup.simhash_near_pairs(docs).count() == 0
    assert dedup.minhash_signatures(docs).count() == 0


def test_cluster_on_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long, jaccard double")
    assert dedup.dup_clusters(pairs).count() == 0


def test_similarity_ops_on_empty(spark):
    emb = _empty_emb(spark)
    assert similarity.cosine_near_pairs(emb, 0.4).count() == 0
    assert similarity.knn_bruteforce(emb, [0, 1], k=3).count() == 0
    assert similarity.plane_signatures(emb).count() == 0


def test_text_and_multimodal_on_empty(spark):
    docs = _empty_docs(spark)
    assert textops.quality_scores(docs).count() == 0
    assert textops.text_profile(docs).count() == 0
    media = multimodal.with_payload(docs)
    assert multimodal.extract_features(media).count() == 0
    assert multimodal.sample_frames(media).count() == 0


def test_corpus_prep_ops_on_empty_and_degenerate(spark):
    from pyspark.sql import Row

    from map_reduce_sf_crime_spark.operators import (
        packing,
        quantize,
        sampling,
        termstats,
    )

    docs = _empty_docs(spark)
    assert packing.pack_documents(docs, 2048).count() == 0
    assert sampling.stratified_sample_flags(docs).count() == 0
    assert termstats.token_doc_freq(docs).count() == 0

    # degenerate rows: empty text packs into bin 0 with 0 tokens;
    # unknown language falls back to the default mixture rate
    weird = spark.createDataFrame(
        [
            Row(doc_id=1, source="s", text="", lang="xx"),
            Row(doc_id=2, source="s", text="one two", lang="xx"),
        ]
    )
    packed = {r.doc_id: r for r in packing.pack_documents(weird, 10).collect()}
    assert packed[1].n_tok == 0 and packed[1].bin_id == 0
    assert packed[2].bin_id == 0
    flags = sampling.stratified_sample_flags(weird).collect()
    assert all(r.kept in (0, 1) for r in flags)

    # all-zero vector quantizes to all-zero codes without div-by-zero
    zv = spark.createDataFrame([Row(vec_id=1, embedding=[0.0] * 4)])
    row = zv.select(
        quantize.int8_quantize_col(F.col("embedding")).alias("q"),
        quantize.int8_scale_col(F.col("embedding")).alias("s"),
    ).first()
    assert row.q == "0,0,0,0"
    assert row.s == 0.0


@pytest.mark.slow
def test_index_builds_fail_loudly_on_empty_corpus(spark):
    """Round 8: building any persisted ANN index from an empty corpus
    raises a clear ValueError (not an opaque numpy shape error deep in
    Lloyd), for both quantizer paths; an EMPTY append batch is a
    harmless no-op that leaves served results unchanged."""
    import os
    import shutil

    import pytest

    emb = _empty_emb(spark)
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", "empty_idx",
    )
    shutil.rmtree(scratch, ignore_errors=True)
    for fn in (
        lambda: similarity.write_ivf_index(emb, f"{scratch}/ivf"),
        lambda: similarity.write_ivf_index(
            emb, f"{scratch}/ivf", refine=False
        ),
        lambda: similarity.write_pq_index(emb, f"{scratch}/pq"),
        lambda: similarity.write_ivfpq_index(emb, f"{scratch}/hyb"),
        lambda: similarity.write_ivfpq_index(
            emb, f"{scratch}/hybres", residual=True
        ),
    ):
        with pytest.raises(ValueError, match="EMPTY corpus"):
            fn()

    # empty append: build on a real slice, append nothing, serve same
    full = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    similarity.write_ivfpq_index(full, f"{scratch}/ok", n_centroids=8)
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in full.filter(F.col("vec_id").isin(1, 2)).collect()
    ]
    before = sorted(
        map(
            tuple,
            similarity.ivfpq_topk_indexed(
                spark, f"{scratch}/ok", queries, full, 3
            ).collect(),
        )
    )
    similarity.append_ivfpq_index(emb, f"{scratch}/ok", 1)
    after = sorted(
        map(
            tuple,
            similarity.ivfpq_topk_indexed(
                spark, f"{scratch}/ok", queries, full, 3
            ).collect(),
        )
    )
    assert before == after
    shutil.rmtree(scratch, ignore_errors=True)
