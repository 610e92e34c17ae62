"""Round 7 (VERDICT #5): the packaged ANN maintenance loops —
``stream_fold`` over ``apply_changes_to_{ivf,pq,ivfpq}_index`` and
``apply_changes_to_vector_store`` — exercised end to end, mirroring
test_streaming_postings_maintenance_serves_live_corpus: a lakehouse
embeddings table is poisoned with cosine-1.0 PHANTOM copies of every
query vector, the serving indexes are built from that snapshot, then
committed merges (phantom DELETEs + new-vector INSERTs) stream through
the loops. The served results must equal a same-artifact rebuild on
the final corpus — phantoms really die (tombstones through the
stream), inserts really serve."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from map_reduce_sf_crime_spark.operators import similarity
from map_reduce_sf_crime_spark.sources.lakehouse import (
    merge_upsert,
    read_partitioned,
    write_partitioned,
)
from map_reduce_sf_crime_spark.sources.parquet import load_table
from map_reduce_sf_crime_spark.streaming.index_maintenance import stream_fold

from .conftest import SF_CHECK

QIDS = [0, 1, 2]


@pytest.mark.slow
def test_ann_maintenance_loops_serve_live_corpus(spark, tmp_path):
    emb = load_table(spark, SF_CHECK, "embeddings").select(
        "vec_id", "embedding"
    )
    queries = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.filter(F.col("vec_id").isin(QIDS)).collect()
    ]
    phantoms = spark.createDataFrame(
        [(9_000_000 + i, v) for i, (_, v) in enumerate(queries)],
        emb.schema,
    )
    inserts = spark.createDataFrame(
        [(8_000_000 + i, v) for i, (_, v) in enumerate(queries)],
        emb.schema,
    )
    with_pt = lambda df: df.withColumn(  # noqa: E731
        "pt", (F.col("vec_id") % 3).cast("int")
    )
    path = str(tmp_path / "emb_fact")
    write_partitioned(with_pt(emb.unionByName(phantoms)), path, ["pt"])
    # seed commit so the change feed has a committed starting snapshot
    merge_upsert(
        spark, path,
        with_pt(emb.filter(F.col("vec_id") < 2)).localCheckpoint(),
        key_cols=["vec_id"], partition_cols=["pt"], archive=True,
    )
    snapshot = read_partitioned(spark, path).select("vec_id", "embedding")
    idx = {
        n: str(tmp_path / f"idx_{n}")
        for n in ("ivf", "pq", "ivfpq", "ivfpq_res")
    }
    similarity.write_ivf_index(snapshot, idx["ivf"], n_centroids=8)
    similarity.write_pq_index(snapshot, idx["pq"])
    similarity.write_ivfpq_index(snapshot, idx["ivfpq"], n_centroids=8)
    # round 8: the residual-encoded hybrid rides the SAME loop — the
    # streamed folds must pick the mode up from the stored meta, not
    # from any caller argument
    similarity.write_ivfpq_index(
        snapshot, idx["ivfpq_res"], n_centroids=8, residual=True
    )
    # round 8 (ANN10): the re-rank store is the fourth artifact the
    # embeddings feed keeps live — base build MUST precede the churn
    # (the snapshot frame is lazy over files the merges rewrite)
    store_path = str(tmp_path / "vstore")
    similarity.write_vector_store(snapshot, store_path)

    # committed churn: the phantoms die, the new vectors arrive
    merge_upsert(
        spark, path,
        with_pt(phantoms).withColumn("_del", F.lit(True)).localCheckpoint(),
        key_cols=["vec_id"], partition_cols=["pt"], delete_col="_del",
        archive=True,
    )
    merge_upsert(
        spark, path, with_pt(inserts).localCheckpoint(),
        key_cols=["vec_id"], partition_cols=["pt"], archive=True,
    )

    loops = {
        "ivf": similarity.apply_changes_to_ivf_index,
        "pq": similarity.apply_changes_to_pq_index,
        "ivfpq": similarity.apply_changes_to_ivfpq_index,
        "ivfpq_res": similarity.apply_changes_to_ivfpq_index,
    }
    for name, fold in loops.items():
        q = stream_fold(
            spark, path, ["vec_id"], str(tmp_path / f"ckpt_{name}"),
            lambda s, df, gen, fold=fold, p=idx[name]: fold(s, p, df, gen),
            starting_cid=0,
        )
        q.awaitTermination(300)
        q.stop()
    # the re-rank store rides the same stream
    q = stream_fold(
        spark, path, ["vec_id"], str(tmp_path / "ckpt_store"),
        lambda s, df, gen: similarity.apply_changes_to_vector_store(
            s, df, store_path, gen
        ),
        starting_cid=0,
    )
    q.awaitTermination(300)
    q.stop()

    final = read_partitioned(spark, path).select("vec_id", "embedding")
    # rebuilds on the final corpus under the STREAMED indexes' OWN
    # stored artifacts — served ≡ rebuilt is the exactness pin
    cents = {n: similarity._stored_centroids(spark, idx[n])
             for n in ("ivf", "ivfpq", "ivfpq_res")}
    books = {n: similarity._stored_codebooks(spark, idx[n])
             for n in ("pq", "ivfpq", "ivfpq_res")}
    reb = {n: str(tmp_path / f"reb_{n}") for n in idx}
    similarity.write_ivf_index(final, reb["ivf"], centroids=cents["ivf"])
    similarity.write_pq_index(final, reb["pq"], codebooks=books["pq"])
    similarity.write_ivfpq_index(
        final, reb["ivfpq"],
        centroids=cents["ivfpq"], codebooks=books["ivfpq"],
    )
    similarity.write_ivfpq_index(
        final, reb["ivfpq_res"],
        centroids=cents["ivfpq_res"], codebooks=books["ivfpq_res"],
        residual=True,
    )
    assert similarity._stored_ivfpq_residual(spark, idx["ivfpq_res"])
    serve = {
        "ivf": lambda p: similarity.ivf_topk_indexed(spark, p, queries, k=3),
        "pq": lambda p: similarity.pq_topk_indexed(
            spark, p, queries, final, k=3
        ),
        "ivfpq": lambda p: similarity.ivfpq_topk_indexed(
            spark, p, queries, final, k=3
        ),
        "ivfpq_res": lambda p: similarity.ivfpq_topk_indexed(
            spark, p, queries, final, k=3
        ),
    }
    for name in loops:
        served = serve[name](idx[name]).collect()
        rebuilt = serve[name](reb[name]).collect()
        assert sorted(map(tuple, served)) == sorted(map(tuple, rebuilt)), name
        got = {r.vec_id for r in served}
        # tombstones through the stream: no phantom survives
        assert not any(v >= 9_000_000 for v in got), name
        # inserts through the stream: each query's cosine-1.0 copy tops
        for i, (q, _) in enumerate(queries):
            top = [r for r in served if r.query_id == q and r.rk == 1]
            assert top and top[0].vec_id == 8_000_000 + i, (name, q)
            assert top[0].cosine == 1.0, (name, q)
    # the streamed store re-ranks bit-identically to the live corpus
    # frame: deleted phantoms tombstoned, streamed inserts' vectors
    # really present (a missing insert would silently drop its row
    # from the store-served result — caught here by the equality)
    via_store = similarity.pq_topk_indexed(
        spark, idx["pq"], queries, vector_store=store_path, k=3
    ).collect()
    assert sorted(map(tuple, via_store)) == sorted(
        map(tuple, serve["pq"](idx["pq"]).collect())
    )
    # round 10 (verdict Next #6): the BULK serve rides the maintained
    # artifacts too — bulk-served through the streamed index + store
    # must equal the latency serve of a REBUILD on the final corpus
    # (the latency path has had this pin since round 8; a bulk-path
    # fold handling bug — tombstones not filtered, appended lists not
    # discovered, store folds not resolved — would split them)
    qframe = spark.createDataFrame(queries, "query_id long, embedding array<double>")
    for name in ("ivfpq", "ivfpq_res", "pq"):
        bulk = (
            similarity.pq_topk_bulk
            if name == "pq"
            else similarity.ivfpq_topk_bulk
        )
        rebuilt = sorted(map(tuple, serve[name](reb[name]).collect()))
        for src in ({"emb": final}, {"vector_store": store_path}):
            got = sorted(
                map(
                    tuple,
                    bulk(spark, idx[name], qframe, k=3, **src).collect(),
                )
            )
            assert got == rebuilt and got, (name, src.keys())
    assert sorted(
        map(
            tuple,
            similarity.ivf_topk_bulk(spark, idx["ivf"], qframe, k=3).collect(),
        )
    ) == sorted(map(tuple, serve["ivf"](reb["ivf"]).collect()))
