"""Scale probe: replicate the documents/embeddings fixtures N× into
.scratch and time the heavy operators — answers "does this operator's
cost scale with input (good) or blow up superlinearly (bad)?" locally.

Caveat baked into the reading: replication gives every doc N-1 exact
twins, so NEAR-DUP OUTPUT grows ~N² by construction. Pair-emitting
operators (near_jaccard, minhash_lsh, simhash, near_pairs) are
expected to track their output size; linear operators (exact dedup,
text stats, signatures, assignments) must track input size.

    python tools/scale_probe.py [N=10]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from map_reduce_sf_crime_spark.plans.registry import REGISTRY
from map_reduce_sf_crime_spark.session import get_spark

BASE = "/root/testdata/sf0.1"
PROBES = [
    "dedup_exact_flags",
    "doc_signatures",
    "text_profile",
    "embedding_profile",
    "knn_bruteforce",
    "corpus_pack",
    "token_doc_freq",
    "corpus_sample",
    "dedup_simhash",
    "dedup_incremental",
    "dedup_minhash_lsh",
    "dedup_near_jaccard",
    "embedding_near_pairs",
]


def replicate(n: int) -> str:
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".scratch", f"scale_x{n}")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for table, key, stride in [("documents", "doc_id", 5000), ("embeddings", "vec_id", 2000)]:
        dst = os.path.join(out, f"{table}.parquet")
        # rebuild when the base is newer — the driver regenerates
        # /root/testdata between rounds and a stale replica would
        # silently probe last round's fixtures (missing base: keep
        # the replica and let the copy path surface the clear error)
        src = os.path.join(BASE, f"{table}.parquet")
        if (
            os.path.exists(dst)
            and os.path.exists(src)
            and os.path.getmtime(src) > os.path.getmtime(dst)
        ):
            os.remove(dst)
        if not os.path.exists(dst):
            cols = duckdb.sql(f"select * from '{BASE}/{table}.parquet' limit 0").columns
            rest = ", ".join(c for c in cols if c != key)
            con.execute(
                f"copy (select {key} + {stride}*r as {key}, {rest} "
                f"from '{BASE}/{table}.parquet', range({n}) t(r)) "
                f"to '{dst}' (format parquet, row_group_size 65536)"
            )
    return out


def hot_cluster_probe(spark, n: int) -> None:
    """SemDeDup hot-cluster skew probe: a pathologically clustered
    fixture (half the corpus in ONE coarse cell — Zipfian worst case
    a scaled k cannot prevent) vs a uniform fixture of the same size.
    The blocked pair join (operators/similarity._semdedup_candidates)
    must keep runtime OUTPUT-bound: the hot/uniform time ratio should
    track the hot/uniform within-cluster PAIR ratio, not blow up on a
    single straggler task."""
    import random
    import time as _t

    import pandas as pd
    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators.similarity import (
        ivf_assignments,
        semantic_dedup,
        semdedup_k,
    )

    rows_n = 2000 * n
    dim = 64
    k = semdedup_k(rows_n)
    rng = random.Random(11)
    hot = [1.0] + [0.0] * (dim - 1)

    def vec(i: int, clustered: bool) -> list[float]:
        if clustered and i >= k and i % 2 == 0:
            return [x + rng.uniform(-0.01, 0.01) for x in hot]
        if clustered and i == 0:
            return hot
        return [rng.uniform(-1, 1) for _ in range(dim)]

    for label, clustered in (("uniform", False), ("hot", True)):
        pdf = pd.DataFrame(
            {"vec_id": range(rows_n),
             "embedding": [vec(i, clustered) for i in range(rows_n)]}
        )
        emb = spark.createDataFrame(pdf).cache()
        emb.count()
        sizes = (
            ivf_assignments(emb, k)
            .groupBy("centroid_id")
            .count()
            .agg(
                SF.max("count").alias("mx"),
                SF.sum(SF.col("count") * (SF.col("count") - 1) / 2).alias("pairs"),
            )
            .collect()[0]
        )
        t0 = _t.perf_counter()
        semantic_dedup(emb, k=k).write.format("noop").mode("overwrite").save()
        dt = _t.perf_counter() - t0
        print(
            f"x{n} semdedup[{label}]: {dt:.2f}s  "
            f"(k={k}, max_cluster={sizes.mx}, within_pairs={int(sizes.pairs)})"
        )
        emb.unpersist()
        spark.catalog.clearCache()


def stream_throughput_probe(spark, seconds: int = 25) -> None:
    """Sustained-throughput point for the streaming tier (the gate's
    stream_* entries replay static parquet via availableNow; this
    drives a RATE source continuously): rows/s actually processed,
    median micro-batch latency, and state-store size for (a) the
    tumbling window+sum agg and (b) watermark-bounded stream dedup."""
    import statistics
    import time as _t

    from pyspark.sql import functions as SF

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500_000)
        .option("numPartitions", 8)
        .load()
        .select(
            SF.col("timestamp").alias("ts"),
            (SF.col("value") % 5).cast("string").alias("event_type"),
            (SF.col("value") % 1000).cast("double").alias("value"),
            (SF.col("value") % 100_000).alias("user_id"),
        )
    )
    legs = {
        "tumbling": (
            rate.withWatermark("ts", "10 seconds")
            .groupBy(SF.window("ts", "10 seconds"), "event_type")
            .agg(SF.count(SF.lit(1)).alias("n"), SF.sum("value").alias("sv")),
            "update",
        ),
        "dedup": (
            rate.withWatermark("ts", "10 seconds")
            .dropDuplicatesWithinWatermark(["user_id"]),
            "append",
        ),
    }
    for name, (df, mode) in legs.items():
        q = (
            df.writeStream.outputMode(mode)
            .format("noop")
            .trigger(processingTime="2 seconds")
            .start()
        )
        _t.sleep(seconds)
        prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        q.stop()
        q.awaitTermination()
        if not prog:
            print(f"stream[{name}]: no progress recorded")
            continue
        rps = statistics.median(
            p["processedRowsPerSecond"] for p in prog
        )
        lat = statistics.median(
            p["durationMs"]["triggerExecution"] for p in prog
        )
        states = [p.get("stateOperators") or [] for p in prog]
        srows = max(
            (s[0].get("numRowsTotal", 0) for s in states if s), default=0
        )
        smem = max(
            (s[0].get("memoryUsedBytes", 0) for s in states if s), default=0
        )
        print(
            f"stream[{name}]: {rps/1e3:.0f}k rows/s sustained, "
            f"median batch {lat:.0f} ms, state rows {srows}, "
            f"state mem {smem/1e6:.1f} MB ({len(prog)} batches)"
        )


def churn_probe(spark, n: int) -> None:
    """Change-feed churn-proportionality probe (round 5): the claim
    under test is the one CF1 and the index fold make in their
    docstrings — incremental cost tracks CHURN, never table size.

    Builds a pt-partitioned lakehouse fact at 1× and n× rows
    (10k rows/partition), applies the SAME fixed-size churn to it
    (two merges rewriting one partition, archive=True), then times:

    - ``read_changes`` between the two commits — should be ~flat
      across table sizes (only the touched partition is reconstructed
      on either side);
    - the brute-force alternative (full-outer join of the two
      ``read_as_of`` snapshots over ALL partitions) — grows with the
      table, the contrast that shows the pruning is real;
    - the ANN maintenance loop: a persisted IVF index over the same
      row count, with a fixed 2k-event change batch folded via
      ``apply_changes_to_ivf_index`` and probed — fold time is
      batch-sized (one narrow assignment map + two churn-sized
      writes), probe overhead one broadcast tombstone join.
    """
    import shutil
    import time as _t

    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators import similarity
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        merge_upsert,
        read_as_of,
        read_changes,
        write_partitioned,
    )

    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )
    for scale in (1, n):
        rows_n = 200_000 * scale
        path = os.path.join(scratch, f"churn_x{scale}")
        shutil.rmtree(path, ignore_errors=True)
        base = spark.range(rows_n).select(
            SF.col("id"),
            (SF.col("id") / 10_000).cast("int").alias("pt"),
            SF.repeat(SF.md5(SF.col("id").cast("string")), 8).alias("payload"),
            SF.lit(0).alias("v"),
        )
        write_partitioned(base, path, ["pt"])
        # fixed churn regardless of scale: 5k updates inside pt=0
        churn = base.filter(SF.col("id") < 5_000)
        merge_upsert(
            spark, path, churn.withColumn("v", SF.lit(1)).localCheckpoint(),
            key_cols=["id"], partition_cols=["pt"], archive=True,
        )
        merge_upsert(
            spark, path, churn.withColumn("v", SF.lit(2)).localCheckpoint(),
            key_cols=["id"], partition_cols=["pt"], archive=True,
        )
        t0 = _t.perf_counter()
        feed = read_changes(spark, path, 0, 1, ["id"])
        n_events = feed.count()
        t_feed = _t.perf_counter() - t0
        # brute-force contrast: same answer, no partition pruning
        t0 = _t.perf_counter()
        a, b = read_as_of(spark, path, 0).alias("a"), read_as_of(
            spark, path, 1
        ).alias("b")
        n_brute = (
            a.join(b, SF.col("a.id") == SF.col("b.id"), "full_outer")
            .filter(
                ~SF.col("a.v").eqNullSafe(SF.col("b.v"))
                | SF.col("a.id").isNull()
                | SF.col("b.id").isNull()
            )
            .count()
        )
        t_brute = _t.perf_counter() - t0
        print(
            f"x{scale} read_changes[{rows_n} rows, 5k churn]: "
            f"{t_feed:.2f}s ({n_events} events) vs brute snapshot "
            f"diff {t_brute:.2f}s ({n_brute} changed keys)"
        )

        # the STREAMED form of the same diff: drain commit (0,1] via
        # the lakehouse_cdf source (executor-local pandas diffs of
        # touched partitions) — should track the batch reader, flat
        # across table sizes
        from map_reduce_sf_crime_spark.streaming.cdf_source import (
            LakehouseChangeFeed,
        )

        spark.dataSource.register(LakehouseChangeFeed)
        ckpt = os.path.join(scratch, f"churn_ckpt_x{scale}")
        shutil.rmtree(ckpt, ignore_errors=True)  # fresh drain per run
        got = []
        t0 = _t.perf_counter()
        q = (
            spark.readStream.format("lakehouse_cdf")
            .option("path", path)
            .option("keyCols", "id")
            .option("startingCid", 0)
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: got.append(df.count())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
        t_stream = _t.perf_counter() - t0
        print(
            f"x{scale} lakehouse_cdf drain[same churn]: "
            f"{t_stream:.2f}s ({sum(got)} events incl. stream startup)"
        )

        # ANN fold leg: index over rows_n vectors, 2k-event fold
        emb = spark.range(rows_n).select(
            SF.col("id").alias("vec_id"),
            SF.array(
                *[SF.sin(SF.col("id") * SF.lit(float(k + 1))) for k in range(16)]
            ).cast("array<float>").alias("embedding"),
        )
        ipath = os.path.join(scratch, f"churn_ivf_x{scale}")
        shutil.rmtree(ipath, ignore_errors=True)
        t0 = _t.perf_counter()
        similarity.write_ivf_index(emb, ipath)
        t_build = _t.perf_counter() - t0
        batch = emb.filter(SF.col("vec_id") < 2_000)
        changes = (
            batch.filter(SF.col("vec_id") < 1_000)
            .withColumn("_change_type", SF.lit("delete"))
            .unionByName(
                batch.filter(SF.col("vec_id") >= 1_000)
                .withColumn("embedding", SF.reverse("embedding"))
                .withColumn("_change_type", SF.lit("update_postimage"))
            )
            .unionByName(
                batch.filter(SF.col("vec_id") >= 1_000).withColumn(
                    "_change_type", SF.lit("update_preimage")
                )
            )
        )
        t0 = _t.perf_counter()
        similarity.apply_changes_to_ivf_index(spark, ipath, changes, 1)
        t_fold = _t.perf_counter() - t0
        queries = [(r["vec_id"], list(r["embedding"]))
                   for r in emb.filter(SF.col("vec_id").isin(5000, 6000)).collect()]
        t0 = _t.perf_counter()
        similarity.ivf_topk_indexed(spark, ipath, queries, 3).count()
        t_probe = _t.perf_counter() - t0
        print(
            f"x{scale} ivf_fold[{rows_n} vecs, 2k-event batch]: "
            f"build {t_build:.2f}s, fold {t_fold:.2f}s, "
            f"tombstone-filtered probe {t_probe:.2f}s"
        )


def keystone_probe(spark, n: int) -> None:
    """Round-6 100× keystone probe (VERDICT r5 #8): the five scale
    keystones whose 10×/30× curves the earlier rounds recorded, now
    at ``n``× (intended n=100 ≈ sf10):

    1. bucket-pruned BM25 serve (build at n×, serve min-of-3 — claim:
       serve tracks the query terms' postings, not the corpus);
    2. postings fold (fixed 500-doc batch — claim: batch-proportional);
    3. DSIR ledger fold + cataloged serve (fixed batch — same claim);
    4. banded image near-pairs (distinct synthetic payloads + planted
       dups — claim: hashing pass input-linear, pair join output-bound);
    5. IVF and PQ folded serve (build at n× vectors, fixed 2k-event
       fold, tombstone-filtered probe — claim: fold batch-sized,
       serve list-pruned).
    """
    import shutil
    import time as _t

    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators import retrieval, sampling, similarity
    from map_reduce_sf_crime_spark.operators.multimodal import image_near_pairs
    from map_reduce_sf_crime_spark.sources.parquet import fan_out, load_table

    sf_dir = replicate(n)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    n_docs = docs.count()
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )

    # --- 1+2: BM25 postings index: build, serve, fold
    queries = {0: "spark window merge dup", 1: "dup table"}
    t0 = _t.perf_counter()
    retrieval.write_postings_index(docs, "ks_postings")
    t_build = _t.perf_counter() - t0
    serves = []
    for _ in range(3):
        t0 = _t.perf_counter()
        retrieval.bm25_topk_indexed(spark, "ks_postings", queries, k=25).count()
        serves.append(_t.perf_counter() - t0)
    batch = (
        docs.filter(SF.col("doc_id") % 997 == 3)
        .withColumn("doc_id", SF.col("doc_id") + 100_000_000)
        .withColumn("_change_type", SF.lit("insert"))
    )
    n_batch = batch.count()
    t0 = _t.perf_counter()
    retrieval.apply_changes_to_postings_index(spark, batch, "ks_postings", 1)
    t_fold = _t.perf_counter() - t0
    print(
        f"x{n} bm25[{n_docs} docs]: index build {t_build:.2f}s, "
        f"serve min-of-3 {min(serves):.2f}s, "
        f"fold[{n_batch}-doc batch] {t_fold:.2f}s"
    )

    # --- 3: DSIR ledger: build, fold, cataloged serve of a fixed slice
    target = SF.col("lang") == SF.lit("en")
    t0 = _t.perf_counter()
    sampling.write_dsir_stats(docs, target, "ks_dsir")
    t_build = _t.perf_counter() - t0
    t0 = _t.perf_counter()
    sampling.apply_changes_to_dsir_stats(spark, batch, target, "ks_dsir", 1)
    t_fold = _t.perf_counter() - t0
    probe_docs = docs.filter(SF.col("doc_id") % 1009 == 5).localCheckpoint()
    n_probe = probe_docs.count()
    t0 = _t.perf_counter()
    sampling.dsir_scores_cataloged(spark, probe_docs, "ks_dsir").count()
    t_serve = _t.perf_counter() - t0
    print(
        f"x{n} dsir_ledger[{n_docs} docs]: build {t_build:.2f}s, "
        f"fold[{n_batch}-doc batch] {t_fold:.2f}s, "
        f"cataloged serve[{n_probe} docs] {t_serve:.2f}s"
    )

    # --- 4: banded image near-pairs over DISTINCT synthetic payloads
    # (replicated fixtures would give every image n-1 exact twins and
    # the n² OUTPUT would drown the signal); 1-in-1000 planted dups
    # keep the verify leg non-trivial while output stays input-linear
    n_imgs = n_docs
    seed_id = (
        SF.when(SF.col("id") % 1000 == 1, SF.col("id") - 1)
        .otherwise(SF.col("id"))
        .cast("string")
    )
    # NON-repeating pseudo-random payload (8 chained md5 blocks): a
    # repeated block makes every grid cell average the same pattern
    # and the dhash space collapses into giant Hamming clusters
    media = spark.range(n_imgs).select(
        SF.col("id").alias("doc_id"),
        SF.encode(
            SF.concat(
                *[
                    SF.md5(SF.concat(seed_id, SF.lit(f"#{k}")))
                    for k in range(8)
                ]
            ),
            "utf-8",
        ).alias("payload"),
    )
    t0 = _t.perf_counter()
    n_pairs = image_near_pairs(media, max_hamming=3).count()
    t_pairs = _t.perf_counter() - t0
    print(f"x{n} image_near_pairs[{n_imgs} imgs]: {t_pairs:.2f}s ({n_pairs} pairs)")

    # --- 5: IVF + PQ folded serve at n× vectors
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    n_vecs = emb.count()
    qrows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(SF.col("vec_id").isin(0, 1, 2)).collect()
    ]
    changes = (
        emb.filter(SF.col("vec_id") % 499 == 7)
        .limit(2000)
        .withColumn("_change_type", SF.lit("delete"))
        .localCheckpoint()
    )
    for kind, write, fold, probe in (
        (
            "ivf",
            similarity.write_ivf_index,
            similarity.apply_changes_to_ivf_index,
            lambda p: similarity.ivf_topk_indexed(spark, p, qrows, 3),
        ),
        (
            "pq",
            similarity.write_pq_index,
            similarity.apply_changes_to_pq_index,
            lambda p: similarity.pq_topk_indexed(spark, p, qrows, emb, 3),
        ),
    ):
        path = os.path.join(scratch, f"ks_{kind}")
        shutil.rmtree(path, ignore_errors=True)
        t0 = _t.perf_counter()
        write(emb, path)
        t_build = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        fold(spark, path, changes, 1)
        t_fold = _t.perf_counter() - t0
        serves = []
        for _ in range(3):
            t0 = _t.perf_counter()
            probe(path).count()
            serves.append(_t.perf_counter() - t0)
        print(
            f"x{n} {kind}_folded[{n_vecs} vecs]: build {t_build:.2f}s, "
            f"fold[2k deletes] {t_fold:.2f}s, serve min-of-3 "
            f"{min(serves):.2f}s"
        )


def round7_probe(spark, n: int) -> None:
    """Round-7 100× probes (VERDICT #8 + #2): the two round-6
    primitives that only had 10× points, plus the new IVF-PQ hybrid's
    serve curve against flat PQ's corpus-shaped ADC scan.

    1. ``with_prefix_sum`` at n× — claim: input-linear (two-phase
       range-bucketed; no per-stratum single-task window);
    2. ``gopher_stats`` at n× — claim: row-local projection,
       input-linear, zero shuffle;
    3. IVF-PQ hybrid: build at n× vectors, serve min-of-3 — claim:
       the serve reads nprobe centroid directories of 16-byte codes
       (partition-pruned), where flat PQ's ADC scan reads the whole
       code table (the round-6 100× point that motivated the hybrid);
       both serves printed side by side from the same corpus.
    """
    import shutil
    import time as _t

    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators import sampling, similarity, textops
    from map_reduce_sf_crime_spark.sources.parquet import fan_out, load_table

    sf_dir = replicate(n)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    n_docs = docs.count()
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )

    # --- 1: distributed prefix sum (the MX3 leg's exact shape:
    # running n_chars per lang in a deterministic global order)
    base = docs.select("doc_id", "lang", "n_chars").localCheckpoint()
    t0 = _t.perf_counter()
    sampling.with_prefix_sum(
        base, "lang", "doc_id", "n_chars"
    ).write.format("noop").mode("overwrite").save()
    print(f"x{n} with_prefix_sum[{n_docs} rows]: {_t.perf_counter() - t0:.2f}s")
    spark.catalog.clearCache()

    # --- 2: Gopher quality rules (row-local sorted-array folds)
    t0 = _t.perf_counter()
    textops.gopher_stats(docs).write.format("noop").mode("overwrite").save()
    print(f"x{n} gopher_stats[{n_docs} docs]: {_t.perf_counter() - t0:.2f}s")
    spark.catalog.clearCache()

    # --- 3: IVF-PQ hybrid vs flat PQ serve on the same corpus
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    n_vecs = emb.count()
    qrows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(SF.col("vec_id").isin(0, 1, 2)).collect()
    ]
    books = similarity.pq_codebooks(emb)
    for kind, write, probe in (
        (
            "ivfpq",
            lambda e, p: similarity.write_ivfpq_index(e, p, codebooks=books),
            lambda p: similarity.ivfpq_topk_indexed(spark, p, qrows, emb, 3),
        ),
        (
            "pq_flat",
            lambda e, p: similarity.write_pq_index(e, p, codebooks=books),
            lambda p: similarity.pq_topk_indexed(spark, p, qrows, emb, 3),
        ),
    ):
        path = os.path.join(scratch, f"r7_{kind}")
        shutil.rmtree(path, ignore_errors=True)
        t0 = _t.perf_counter()
        write(emb, path)
        t_build = _t.perf_counter() - t0
        serves = []
        for _ in range(3):
            t0 = _t.perf_counter()
            probe(path).count()
            serves.append(_t.perf_counter() - t0)
        print(
            f"x{n} {kind}_indexed[{n_vecs} vecs]: build {t_build:.2f}s, "
            f"serve min-of-3 {min(serves):.2f}s"
        )


def _zipf_clustered(spark, n=4000, n_clusters=24, dim=64, seed=13, sorted_by_cluster=False):
    """Zipfian-clustered embeddings: cluster i gets weight 1/(i+1),
    centers are seeded Gaussians, members = center + N(0, 0.25) noise.
    ``sorted_by_cluster=True`` correlates vec_id ORDER with cluster —
    the realistic first-k failure (ingestion order follows content:
    per-source dumps, crawl frontiers)."""
    import random

    rng = random.Random(seed)
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]
    w = [1.0 / (i + 1) for i in range(n_clusters)]
    tot = sum(w)
    counts = [round(n * x / tot) for x in w]
    counts[0] += n - sum(counts)
    member = []
    for ci, cnt in enumerate(counts):
        member += [ci] * cnt
    if not sorted_by_cluster:
        rng.shuffle(member)
    rows = [
        (i, [x + rng.gauss(0, 0.25) for x in centers[ci]])
        for i, ci in enumerate(member)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def quantizer_probe(spark, n: int) -> None:
    """VERDICT r7 #1's done-criterion: list-size skew (max/mean),
    recall@3 (nprobe=4/32), and per-query pruned fraction for the
    persisted hybrid under three quantizers — first-k, Lloyd MEANS
    (classic k-means output), and the production default Lloyd+medoid
    SNAP — on three fixture shapes: the near-isotropic driver corpus,
    a shuffled Zipfian-clustered fixture, and the same fixture with
    vec_id order CORRELATED to cluster (first-k's failure mode)."""
    import shutil
    import tempfile

    import numpy as np
    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators import similarity
    from map_reduce_sf_crime_spark.sources.parquet import fan_out, load_table

    fixtures = {
        "isotropic_sf0.1": fan_out(
            load_table(spark, BASE, "embeddings")
        ).select("vec_id", "embedding"),
        "zipf_shuffled": _zipf_clustered(spark, n=400 * n),
        "zipf_sorted": _zipf_clustered(spark, n=400 * n, sorted_by_cluster=True),
    }
    for fname, emb in fixtures.items():
        emb = emb.cache()
        n_total = emb.count()
        # queries spread across the id range (≈ across clusters for
        # the sorted fixture)
        qids = [int(n_total * f) for f in (0.0, 0.3, 0.5, 0.7, 0.9)]
        queries = [
            (r["vec_id"], list(r["embedding"]))
            for r in emb.filter(SF.col("vec_id").isin(qids))
            .select("vec_id", "embedding")
            .collect()
        ]
        exact = {
            (r.query_id, r.vec_id)
            for r in similarity.knn_bruteforce(emb, qids, 3).collect()
        }
        for tag, cq in (
            ("firstk", similarity._centroids(emb, similarity.IVF_K)),
            (
                "lloyd_mean",
                similarity.kmeans_centroids(emb, similarity.IVF_K, snap=False),
            ),
            (
                "lloyd_snap",
                similarity.kmeans_centroids(emb, similarity.IVF_K, snap=True),
            ),
        ):
            p = tempfile.mkdtemp(prefix="sgraft_qprobe_")
            similarity.write_ivfpq_index(emb, p, centroids=cq)
            got = {
                (r.query_id, r.vec_id)
                for r in similarity.ivfpq_topk_indexed(
                    spark, p, queries, emb, 3
                ).collect()
            }
            rec = len(got & exact) / len(exact)
            sizes = {
                r["centroid_id"]: r["count"]
                for r in spark.read.parquet(f"{p}/lists")
                .groupBy("centroid_id")
                .count()
                .collect()
            }
            tot = sum(sizes.values())
            skew = max(sizes.values()) / (tot / similarity.IVF_K)
            cids, cmat = cq
            qmat = np.array([v for _, v in queries])
            picks = similarity._nearest_lists(
                qmat, cids, cmat, similarity.IVF_NPROBE
            )
            fracs = [
                sum(sizes.get(int(c), 0) for c in row) / tot for row in picks
            ]
            print(
                f"quantizer {fname}[{n_total}] {tag}: recall@3={rec:.3f} "
                f"skew={skew:.2f} nonempty={len(sizes)}/{similarity.IVF_K} "
                f"pruned_frac mean={float(np.mean(fracs)):.3f} "
                f"max={max(fracs):.3f}"
            )
            shutil.rmtree(p, ignore_errors=True)
        emb.unpersist()


def bulkserve_probe(spark, n: int) -> None:
    """ANN11's throughput claim measured: one bulk (DataFrame-in)
    serve vs the latency API given the same batch in one call, on the
    persisted hybrid over the 200k·n sin corpus. The latency path is
    CORRECT at any batch size but its probe selection, distance
    tables, and shortlist collect are driver-side and scale with the
    batch; the bulk path keeps them distributed. Also checks result
    equality on the smaller batch (sorted collect compare)."""
    import shutil
    import time as _t

    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators import similarity

    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )
    rows_n = 200_000 * n
    corpus_path = os.path.join(scratch, f"xover_corpus_x{n}")
    if not os.path.exists(corpus_path):
        spark.range(rows_n).select(
            SF.col("id").alias("vec_id"),
            SF.array(
                *[SF.sin(SF.col("id") * SF.lit(float(k + 1))) for k in range(64)]
            ).cast("array<float>").alias("embedding"),
        ).write.mode("overwrite").parquet(corpus_path)
    emb = spark.read.parquet(corpus_path)
    idx = os.path.join(scratch, f"bulk_idx_x{n}")
    shutil.rmtree(idx, ignore_errors=True)
    t0 = _t.perf_counter()
    similarity.write_ivfpq_index(emb, idx, n_centroids=512)
    print(f"x{n} bulkserve index build: {_t.perf_counter() - t0:.1f}s")
    for nq, check_eq in ((2_048, True), (16_384, False)):
        stride = rows_n // nq
        qcond = (SF.col("vec_id") % stride == 7) & (
            SF.col("vec_id") < stride * nq
        )
        qframe = emb.filter(qcond).select(
            SF.col("vec_id").alias("query_id"), "embedding"
        )
        t0 = _t.perf_counter()
        queries = [
            (r["vec_id"], list(r["embedding"]))
            for r in emb.filter(qcond).collect()
        ]
        df_lat = similarity.ivfpq_topk_indexed(
            spark, idx, queries, emb, 3, nprobe=8
        )
        lat_rows = df_lat.collect()
        t_lat = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        df_bulk = similarity.ivfpq_topk_bulk(
            spark, idx, qframe, emb, 3, nprobe=8
        )
        bulk_rows = df_bulk.collect()
        t_bulk = _t.perf_counter() - t0
        eq = ""
        if check_eq:
            eq = (
                ", results identical"
                if sorted(map(tuple, lat_rows)) == sorted(map(tuple, bulk_rows))
                else ", RESULTS DIFFER"
            )
        print(
            f"x{n} bulkserve {nq} queries: latency-api {t_lat:.2f}s "
            f"(incl. query collect) vs bulk {t_bulk:.2f}s "
            f"({len(bulk_rows)} rows{eq})"
        )
    shutil.rmtree(idx, ignore_errors=True)


def bulkserve10_probe(spark, n: int) -> None:
    """Round-10 bulk-serve done-criteria, bulk-side only (the
    latency-API comparison columns are the round-9 bulkserve probe —
    same corpus recipe, same index geometry, same query batches, so
    the bulk timings here compare directly to BASELINE.md's round-9
    table):

    (a) the vectorized ADC kernel's win at the 2k/16k batches
        (verdict What's-wrong #1 — argsort contiguous-run grouping
        replacing the per-row Python walk + per-query O(rows) masks);
    (b) per-query cost stays ~flat out to a batch the latency API
        cannot hold (131,072 queries — verdict Next #5), with the
        eager phase (probe distinct-collect + plan build) attributed
        separately from the distributed serve;
    (c) the small-batch store re-rank routes through bucket pruning
        (verdict What's-wrong #2): files + MB touched under the
        store's rows tree, default pruned route vs forced whole-store
        route (cutoff 0), result equality asserted."""
    import time as _t

    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators import similarity

    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )
    rows_n = 200_000 * n
    corpus_path = os.path.join(scratch, f"xover_corpus_x{n}")
    if not os.path.exists(corpus_path):
        spark.range(rows_n).select(
            SF.col("id").alias("vec_id"),
            SF.array(
                *[SF.sin(SF.col("id") * SF.lit(float(k + 1))) for k in range(64)]
            ).cast("array<float>").alias("embedding"),
        ).write.mode("overwrite").parquet(corpus_path)
    emb = spark.read.parquet(corpus_path)
    idx = os.path.join(scratch, f"bulk10_idx_x{n}")
    if not os.path.exists(idx):
        t0 = _t.perf_counter()
        similarity.write_ivfpq_index(emb, idx, n_centroids=512)
        print(f"x{n} bulk10 index build: {_t.perf_counter() - t0:.1f}s")

    def qframe_of(nq):
        stride = rows_n // nq
        qcond = (SF.col("vec_id") % stride == 7) & (
            SF.col("vec_id") < stride * nq
        )
        return emb.filter(qcond).select(
            SF.col("vec_id").alias("query_id"), "embedding"
        )

    # (a) + (b): bulk-only scaling sweep, live-frame re-rank (the
    # round-9 table's configuration)
    for nq in (2_048, 16_384, 131_072):
        if rows_n // nq < 2:
            print(f"x{n} bulk10 {nq} queries: skipped (corpus too small)")
            continue
        qf = qframe_of(nq)
        t0 = _t.perf_counter()
        df = similarity.ivfpq_topk_bulk(spark, idx, qf, emb, 3, nprobe=8)
        t_plan = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        got = df.collect()
        t_serve = _t.perf_counter() - t0
        total = t_plan + t_serve
        print(
            f"x{n} bulk10 {nq} queries: probe+plan {t_plan:.2f}s + "
            f"serve {t_serve:.2f}s = {total:.2f}s "
            f"({1000.0 * total / nq:.2f} ms/query, {len(got)} rows)"
        )
    # (c): store re-rank routing at the small batch
    store_buckets = max(64, rows_n // 1000)
    store_tbl = os.path.join(scratch, f"bulk10_store_x{n}")
    if not os.path.exists(store_tbl):
        t0 = _t.perf_counter()
        similarity.write_vector_store(emb, store_tbl, n_buckets=store_buckets)
        print(
            f"x{n} bulk10 store build: {_t.perf_counter() - t0:.1f}s "
            f"({store_buckets} buckets)"
        )

    def rows_tree_bytes(df):
        files = [f for f in df.inputFiles() if f"bulk10_store_x{n}" in f]
        return (
            len(files),
            sum(os.path.getsize(f.replace("file:", "")) for f in files) / 1e6,
        )

    for nq in (8, 64, 512, 2_048):
        qf = qframe_of(nq)
        results = {}
        for label, cutoff in (
            ("pruned", max(similarity.BULK_RERANK_PRUNE_MAX_IDS, nq * 192)),
            ("whole-store", 0),
        ):
            t0 = _t.perf_counter()
            df = similarity.ivfpq_topk_bulk(
                spark,
                idx,
                qf,
                k=3,
                nprobe=8,
                vector_store=store_tbl,
                prune_max_ids=cutoff,
            )
            rows = df.collect()
            dt = _t.perf_counter() - t0
            nf, mb = rows_tree_bytes(df)
            results[label] = sorted(map(tuple, rows))
            print(
                f"x{n} bulk10 {nq}-query store re-rank [{label}]: "
                f"{dt:.2f}s, rows-tree {nf} files / {mb:.1f} MB"
            )
        assert results["pruned"] == results["whole-store"], (
            f"route results differ at {nq}"
        )
        print(f"x{n} bulk10 {nq}-query store routes: results identical")


def flatbulk_probe(spark, n: int) -> None:
    """ANN12's throughput claim measured on the flat tiers (round
    10): latency API given the whole batch in one call vs the bulk
    DataFrame serve, persisted IVF and flat-PQ indexes over the
    200k·n sin corpus — the flat-tier twin of the bulkserve probes —
    plus residual-hybrid bulk points (the vectorized residual ADC
    kernel's shape). Result equality checked on the smaller batch."""
    import time as _t

    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators import similarity

    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )
    rows_n = 200_000 * n
    corpus_path = os.path.join(scratch, f"xover_corpus_x{n}")
    if not os.path.exists(corpus_path):
        spark.range(rows_n).select(
            SF.col("id").alias("vec_id"),
            SF.array(
                *[SF.sin(SF.col("id") * SF.lit(float(k + 1))) for k in range(64)]
            ).cast("array<float>").alias("embedding"),
        ).write.mode("overwrite").parquet(corpus_path)
    emb = spark.read.parquet(corpus_path)
    paths = {
        "ivf": os.path.join(scratch, f"flatbulk_ivf_x{n}"),
        "pq": os.path.join(scratch, f"flatbulk_pq_x{n}"),
        "res": os.path.join(scratch, f"flatbulk_res_x{n}"),
    }
    builders = {
        "ivf": lambda p: similarity.write_ivf_index(emb, p, n_centroids=512),
        "pq": lambda p: similarity.write_pq_index(emb, p),
        "res": lambda p: similarity.write_ivfpq_index(
            emb, p, n_centroids=512, residual=True
        ),
    }
    for name, p in paths.items():
        if not os.path.exists(p):
            t0 = _t.perf_counter()
            builders[name](p)
            print(f"x{n} flatbulk {name} build: {_t.perf_counter() - t0:.1f}s")

    def batch(nq):
        stride = rows_n // nq
        qcond = (SF.col("vec_id") % stride == 7) & (
            SF.col("vec_id") < stride * nq
        )
        queries = [
            (r["vec_id"], list(r["embedding"]))
            for r in emb.filter(qcond).collect()
        ]
        qframe = emb.filter(qcond).select(
            SF.col("vec_id").alias("query_id"), "embedding"
        )
        return queries, qframe

    legs = [
        # (tier, nq, latency callable, bulk callable, check equality)
        ("ivf", 2_048, True),
        ("ivf", 16_384, False),
        ("pq", 2_048, True),
        ("res", 2_048, True),
        ("res", 16_384, False),
    ]
    lat_fns = {
        "ivf": lambda qs: similarity.ivf_topk_indexed(
            spark, paths["ivf"], qs, 3, nprobe=8
        ),
        "pq": lambda qs: similarity.pq_topk_indexed(
            spark, paths["pq"], qs, emb, 3
        ),
        "res": lambda qs: similarity.ivfpq_topk_indexed(
            spark, paths["res"], qs, emb, 3, nprobe=8
        ),
    }
    bulk_fns = {
        "ivf": lambda qf: similarity.ivf_topk_bulk(
            spark, paths["ivf"], qf, 3, nprobe=8
        ),
        "pq": lambda qf: similarity.pq_topk_bulk(
            spark, paths["pq"], qf, emb, 3
        ),
        "res": lambda qf: similarity.ivfpq_topk_bulk(
            spark, paths["res"], qf, emb, 3, nprobe=8
        ),
    }
    for tier, nq, check_eq in legs:
        queries, qframe = batch(nq)
        t0 = _t.perf_counter()
        lat_rows = lat_fns[tier](queries).collect()
        t_lat = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        bulk_rows = bulk_fns[tier](qframe).collect()
        t_bulk = _t.perf_counter() - t0
        eq = ""
        if check_eq:
            eq = (
                ", results identical"
                if sorted(map(tuple, lat_rows)) == sorted(map(tuple, bulk_rows))
                else ", RESULTS DIFFER"
            )
        print(
            f"x{n} flatbulk {tier} {nq} queries: latency-api {t_lat:.2f}s "
            f"vs bulk {t_bulk:.2f}s ({len(bulk_rows)} rows{eq})"
        )


def bulkserve11_probe(spark, n: int, parts: str = "abc") -> None:
    """Round-11 done-criteria (VERDICT What's-wrong #2, Next #2/#4,
    plus the count-threading attribution of Next #3):

    (a) the pq-bulk QUERY-BLOCK GRID measured LIVE across the nqb
        boundary — 65,536 (nqb=1) and 131,072 (nqb=2) queries through
        ``pq_topk_bulk`` on the x1 (200k-code) flat-PQ index,
        live-frame re-rank. The grid split is a function of the QUERY
        batch only; the corpus size scales every point's ADC product
        equally, so the boundary crossing is measured at the corpus
        the wall-clock affords (the 2M corpus multiplies every cell's
        compute 10× without moving the split) and ms/query is the
        comparable column. The 131,072
        point re-runs with the grid FORCED OFF
        (``max_queries_per_task=nq`` → one query block, the
        pre-round-10 task shape): a spot subset is asserted
        identical, the timing shows what the 65,536 bound costs or
        buys, and the per-task memory evidence prints (max queries
        hashed into one block × dim × 8 B, plus the codes
        replication factor nqb).
    (b) the 131,072-query HYBRID bulk serve through the VECTOR STORE
        on the 2M corpus (round 10 measured this batch live-frame at
        10.30 ms/query): ms/query plus files/MB touched under the
        store rows tree — ``_store_all_vectors``'s whole-store
        amortized read at a batch ~500× above the 2,048-id pruned
        routing cutoff.
    (c) Spark-JOB attribution of a store-routed pq bulk serve (job
        group): with the round-11 count threading the query-frame
        count job runs ONCE per serve; a recount would add one more
        job to the group.
    """
    import time as _t

    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators import similarity

    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )

    def corpus_of(nx):
        rows_nx = 200_000 * nx
        corpus_path = os.path.join(scratch, f"xover_corpus_x{nx}")
        if not os.path.exists(corpus_path):
            spark.range(rows_nx).select(
                SF.col("id").alias("vec_id"),
                SF.array(
                    *[
                        SF.sin(SF.col("id") * SF.lit(float(k + 1)))
                        for k in range(64)
                    ]
                ).cast("array<float>").alias("embedding"),
            ).write.mode("overwrite").parquet(corpus_path)
        return rows_nx, spark.read.parquet(corpus_path)

    def qframe_of(embx, rows_nx, nq):
        stride = rows_nx // nq
        # offset 7 matches the round-9/10 recipes where stride > 7
        # (the x10 comparisons); dense batches on the small corpus
        # clamp it so the predicate still selects one id per stride
        off = min(7, stride - 1)
        qcond = (SF.col("vec_id") % stride == off) & (
            SF.col("vec_id") < stride * nq
        )
        return embx.filter(qcond).select(
            SF.col("vec_id").alias("query_id"), "embedding"
        )

    # part (a) is pinned to the x1 corpus: the ADC product is
    # corpus × queries, and the grid split depends only on the query
    # batch — the x10 corpus would 10× every cell's compute without
    # moving the boundary (x10's 2k-query point already measured
    # 86.4 s in the round-10 flat-tier table)
    rows_n, emb = corpus_of(1)
    pq_idx = os.path.join(scratch, "flatbulk_pq_x1")
    if not os.path.exists(pq_idx):
        t0 = _t.perf_counter()
        similarity.write_pq_index(emb, pq_idx)
        print(f"x1 bulk11 pq build: {_t.perf_counter() - t0:.1f}s")

    # (a) the SERVING-SESSION shape that found the round-11 bound:
    # two bulk serves back-to-back in ONE JVM at the default task
    # bound (65k then 131k queries). At the round-10 bound of 65,536
    # the second serve CRASHED with an Arrow netty OutOfMemory (warm
    # allocator arenas against the 8 GB direct-memory cap; unbounded
    # crashed even fresh) — the 16,384 default serves both clean AND
    # 1.5–1.8× faster (BASELINE.md pq-grid table). Values are
    # grid-invariant (bit-equal pins under forced splits in pytest).
    if "a" in parts:
        qpt = similarity.PQ_BULK_MAX_QUERIES_PER_TASK
        for nq in (65_536, 131_072):
            if rows_n < nq:
                print(f"x1 bulk11 pq {nq} queries: skipped (corpus too small)")
                continue
            qf = qframe_of(emb, rows_n, nq)
            nqb = max(1, -(-nq // qpt))
            t0 = _t.perf_counter()
            rows = similarity.pq_topk_bulk(spark, pq_idx, qf, emb, 3).collect()
            dt = _t.perf_counter() - t0
            print(
                f"x1 bulk11 pq {nq}q nqb={nqb} (bound {qpt}): {dt:.1f}s "
                f"({1000.0 * dt / nq:.2f} ms/query, {len(rows)} rows; "
                f"≤{qpt * 64 * 8 / 1e6:.0f} MB/task qmat, codes ×{nqb})"
            )

    # (b) the 131,072-query hybrid bulk point through the vector
    # store — pinned to the x{n} (default 2M) corpus, the round-10
    # live-frame point's exact configuration (10.30 ms/query)
    hyb_idx = os.path.join(scratch, f"bulk10_idx_x{n}")
    store = os.path.join(scratch, f"bulk10_store_x{n}")
    if "b" in parts and os.path.exists(hyb_idx) and os.path.exists(store):
        rows_nb, embb = corpus_of(n)
        nq = 131_072
        qf = qframe_of(embb, rows_nb, nq)
        t0 = _t.perf_counter()
        df = similarity.ivfpq_topk_bulk(
            spark, hyb_idx, qf, k=3, nprobe=8, vector_store=store
        )
        t_plan = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        got = df.collect()
        t_serve = _t.perf_counter() - t0
        total = t_plan + t_serve
        files = [f for f in df.inputFiles() if "bulk10_store" in f]
        mb = sum(os.path.getsize(f.replace("file:", "")) for f in files) / 1e6
        print(
            f"x{n} bulk11 hybrid {nq}q via STORE: eager {t_plan:.1f}s + "
            f"serve {t_serve:.1f}s = {total:.1f}s "
            f"({1000.0 * total / nq:.2f} ms/query, {len(got)} rows; "
            f"rows-tree {len(files)} files / {mb:.0f} MB)"
        )
    elif "b" in parts:
        print(f"x{n} bulk11 hybrid store point skipped (no bulk10 artifacts)")

    # (c) job attribution: the count job runs once per store serve
    store1 = os.path.join(scratch, "bulk10_store_x1")
    pq1 = os.path.join(scratch, "flatbulk_pq_x1")
    if "c" in parts and os.path.exists(store1) and os.path.exists(pq1):
        emb1 = spark.read.parquet(os.path.join(scratch, "xover_corpus_x1"))
        qf8 = emb1.filter(SF.col("vec_id") % 25_000 == 7).select(
            SF.col("vec_id").alias("query_id"), "embedding"
        )
        sc = spark.sparkContext
        sc.setJobGroup("bulk11jobs", "pq bulk store serve")
        similarity.pq_topk_bulk(
            spark, pq1, qf8, k=3, vector_store=store1
        ).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup("bulk11jobs")
        print(
            f"x{n} bulk11 job attribution: store-routed pq bulk serve = "
            f"{len(jobs)} Spark jobs (query-frame count threaded, runs once)"
        )


def headsample_probe(spark, n: int) -> None:
    """VERDICT r8 #1's done-criterion: head-sample vs hash-sample
    quantizer training on a fixture where WHOLE CLUSTERS live outside
    the head. Zipf-clustered corpus SORTED by cluster (ingestion
    follows content), ``train_rows`` set so the head slice is
    swallowed entirely by the biggest cluster — the scaled-down twin
    of a 100 TB corpus whose first 100k vec_ids all predate the
    late-arriving content. ``head`` emulates the pre-round-9 trainer
    (the sample IS the first train_rows ids — built by training on
    the head-filtered frame, which any sample order reduces to);
    ``hash`` is the shipped :func:`_train_matrix` order. Serves
    through the persisted IVF index (EXACT cosine re-rank inside the
    probed lists) so the measurement isolates the COARSE quantizer —
    an IVFPQ serve on this fixture is ADC-shortlist-bound (cluster
    members differ by small noise the 4-bit codes cannot rank) and
    washes the quantizer difference out. Reports overall recall@3,
    recall restricted to queries whose true neighbors live PAST the
    head boundary, mean probed-rows fraction, list skew, and
    non-empty list count."""
    import shutil
    import tempfile

    import numpy as np
    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators import similarity

    n_total = 4_000 * n  # default x10 -> 40k vectors
    train_rows = n_total // 5  # head ⊂ cluster 0 (zipf-64 head ≈ n/4.7)
    # 64 clusters (> IVF_K=32) and tight probes (nprobe 1-2): more
    # content clusters than lists forces the quantizer to SHARE lists
    # well, and a tight probe makes sloppy list placement visible as
    # recall (at nprobe=4/32 the exact in-list re-rank forgives
    # almost any placement — measured while designing this probe)
    emb = _zipf_clustered(
        spark, n=n_total, n_clusters=64, sorted_by_cluster=True
    ).cache()
    emb.count()
    # 20 queries spread over the id range; those past train_rows live
    # in clusters the head sample never saw
    nq = 20
    qids = [int(n_total * (0.02 + 0.96 * i / (nq - 1))) for i in range(nq)]
    late_q = {q for q in qids if q >= train_rows}
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(SF.col("vec_id").isin(qids)).collect()
    ]
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.knn_bruteforce(emb, qids, 3).collect()
    }
    for tag, train_frame in (
        ("head", emb.filter(SF.col("vec_id") < train_rows)),
        ("hash", emb),
    ):
        cq = similarity.kmeans_centroids(
            train_frame, similarity.IVF_K, train_rows=train_rows
        )
        p = tempfile.mkdtemp(prefix="sgraft_headprobe_")
        similarity.write_ivf_index(emb, p, centroids=cq)
        sizes = {
            r["centroid_id"]: r["count"]
            for r in spark.read.parquet(f"{p}/lists")
            .groupBy("centroid_id")
            .count()
            .collect()
        }
        tot = sum(sizes.values())
        skew = max(sizes.values()) / (tot / similarity.IVF_K)
        cids, cmat = cq
        qmat = np.array([v for _, v in queries])
        for nprobe in (1, 2):
            got = {
                (r.query_id, r.vec_id)
                for r in similarity.ivf_topk_indexed(
                    spark, p, queries, 3, nprobe=nprobe
                ).collect()
            }
            rec = len(got & exact) / len(exact)
            late_exact = {t for t in exact if t[0] in late_q}
            late_rec = (
                len({t for t in got if t[0] in late_q} & late_exact)
                / len(late_exact)
            )
            fracs = [
                sum(sizes.get(int(c), 0) for c in row) / tot
                for row in similarity._nearest_lists(qmat, cids, cmat, nprobe)
            ]
            print(
                f"headsample[{n_total} vecs, train_rows={train_rows}, "
                f"{len(late_q)}/{len(qids)} late queries] {tag} "
                f"nprobe={nprobe}: recall@3={rec:.3f} "
                f"late_recall@3={late_rec:.3f} "
                f"probed_frac mean={float(np.mean(fracs)):.3f} "
                f"skew={skew:.2f} nonempty={len(sizes)}/{similarity.IVF_K}"
            )
        shutil.rmtree(p, ignore_errors=True)
    emb.unpersist()


def crossover_probe(spark, n: int, n_cent: int = 512) -> None:
    """VERDICT r7 #2's done-criterion: the corpus size where the
    hybrid's partition-pruned serve beats flat PQ's full-table ADC on
    WALL-CLOCK, not just pruning ratio. Identical codebooks both
    paths; deterministic synthetic corpus (sin-based, dim 64);
    min-of-3 serves.

    The probe is shaped like the deployment the hybrid is FOR — and
    the first (K=32) run of this probe measured the opposite shape
    losing, which is worth keeping on record: with the fixture-scale
    centroid count (32) and a 16-query batch, the probe UNION covered
    26/32 lists (84.7 % of rows), pruning nothing, and the hybrid's
    candidate-join overhead made it ~1.7× SLOWER than flat's plain
    scan. The structural claim was always K ∝ √N (module comment at
    operators/similarity.py): at 2M vectors that is K ≈ 1024, nprobe
    scaled to keep recall — under which a latency-style query batch
    touches a few percent of the lists. This probe builds K = 512,
    nprobe = 8, 3-query batches: per-query fraction 1.6 %, union
    ≤ 4.7 %."""
    import shutil
    import time as _t

    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators import similarity

    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )
    rows_n = 200_000 * n
    # PERSIST the synthetic corpus: a computed frame would re-run the
    # 64 sin() projections inside every serve's re-rank join, burying
    # the ADC-scan difference under identical recompute noise on both
    # paths. (vec 0 is all-zero — sin(0) — which also exercises the
    # round-8 zero-vector hardening.)
    corpus_path = os.path.join(scratch, f"xover_corpus_x{n}")
    if not os.path.exists(corpus_path):
        spark.range(rows_n).select(
            SF.col("id").alias("vec_id"),
            SF.array(
                *[SF.sin(SF.col("id") * SF.lit(float(k + 1))) for k in range(64)]
            ).cast("array<float>").alias("embedding"),
        ).write.mode("overwrite").parquet(corpus_path)
    emb = spark.read.parquet(corpus_path)
    # K ∝ √N at this corpus size; see docstring. n_cent is a probe
    # arg (k=2048 reruns the 8M point at the production rule's K —
    # VERDICT r8 #3 — where probed ROWS stay ~flat vs the 2M/K=512
    # point instead of growing with the corpus)
    nprobe = 8
    qids = [10 + 12_345 * i for i in range(3)]
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(SF.col("vec_id").isin(qids)).collect()
    ]
    books = similarity.pq_codebooks(emb)
    # ANN10 (round 8): the partitioned re-rank store removes the
    # LAST corpus-shaped serve phase (the exact re-rank's raw-vector
    # scan — the round-8 run of this probe measured it burying the
    # ADC win). Buckets sized ∝ corpus (fixed ~1000-row buckets, the
    # fixed-bucket-SIZE production rule — the store twin of K ∝ √N),
    # so the serve's bytes = #shortlist-buckets × bucket size stay
    # corpus-INDEPENDENT; a first cut as a metastore BUCKETED table
    # lost 3-6 s/serve to one-task-per-bucket scheduling, which is
    # why the store is hive-partitioned with explicit-directory reads.
    store_buckets = max(64, rows_n // 1000)
    store_tbl = os.path.join(scratch, f"xover_store_x{n}")
    shutil.rmtree(store_tbl, ignore_errors=True)
    t0 = _t.perf_counter()
    similarity.write_vector_store(emb, store_tbl, n_buckets=store_buckets)
    print(
        f"x{n} crossover store build[{rows_n} vecs]: "
        f"{_t.perf_counter() - t0:.2f}s ({store_buckets} buckets)"
    )

    def _rerank_bytes(df, marker):
        files = [f for f in df.inputFiles() if marker in f]
        return sum(
            os.path.getsize(f.replace("file:", "")) for f in files
        ) / 1e6, len(files)
    for kind, write, probe, probe_store in (
        (
            "ivfpq",
            lambda e, p: similarity.write_ivfpq_index(
                e, p, n_centroids=n_cent, codebooks=books
            ),
            lambda p: similarity.ivfpq_topk_indexed(
                spark, p, queries, emb, 3, nprobe=nprobe
            ),
            lambda p: similarity.ivfpq_topk_indexed(
                spark, p, queries, k=3, nprobe=nprobe, vector_store=store_tbl
            ),
        ),
        (
            "pq_flat",
            lambda e, p: similarity.write_pq_index(e, p, codebooks=books),
            lambda p: similarity.pq_topk_indexed(spark, p, queries, emb, 3),
            lambda p: similarity.pq_topk_indexed(
                spark, p, queries, k=3, vector_store=store_tbl
            ),
        ),
    ):
        path = os.path.join(scratch, f"xover_{kind}")
        shutil.rmtree(path, ignore_errors=True)
        t0 = _t.perf_counter()
        write(emb, path)
        t_build = _t.perf_counter() - t0
        serves, serves_store = [], []
        for _ in range(3):
            t0 = _t.perf_counter()
            df_emb = probe(path)
            df_emb.count()
            serves.append(_t.perf_counter() - t0)
        for _ in range(3):
            t0 = _t.perf_counter()
            df_store = probe_store(path)
            df_store.count()
            serves_store.append(_t.perf_counter() - t0)
        # page-cache-immune structural evidence: raw-vector BYTES the
        # re-rank touches on each path (emb = the whole corpus file
        # set; store = only the shortlist's bucket directories)
        eb, ef = _rerank_bytes(df_emb, "xover_corpus")
        sb, sf_ = _rerank_bytes(df_store, "/rows/bucket=")
        print(
            f"x{n} crossover {kind} rerank bytes: emb {eb:.0f}MB"
            f"/{ef}f vs store {sb:.0f}MB/{sf_}f"
        )
        extra = ""
        if kind == "ivfpq":
            sizes = {
                r["centroid_id"]: r["count"]
                for r in spark.read.parquet(f"{path}/lists")
                .groupBy("centroid_id")
                .count()
                .collect()
            }
            import numpy as np

            cids, cmat = similarity._stored_centroids(spark, path)
            qmat = np.array([v for _, v in queries])
            probed = {
                int(c)
                for c in similarity._nearest_lists(
                    qmat, cids, cmat, nprobe
                ).ravel()
            }
            touched = sum(sizes.get(c, 0) for c in probed)
            extra = (
                f", touched {touched}/{rows_n} rows "
                f"({100 * touched / rows_n:.1f}%) in {len(probed)} lists"
            )
        print(
            f"x{n} crossover {kind}[{rows_n} vecs]: build {t_build:.2f}s, "
            f"serve min-of-3 {min(serves):.2f}s"
            f" (all {[round(s, 2) for s in serves]}), "
            f"serve+store min-of-3 {min(serves_store):.2f}s"
            f" (all {[round(s, 2) for s in serves_store]}){extra}"
        )
        shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(store_tbl, ignore_errors=True)


def index_compaction_probe(spark, n: int) -> None:
    """A week of change-feed folds vs one compaction: probe latency
    and file count on a persisted IVF index after 7 daily folds
    (tombstones + 7 append generations per touched centroid), then
    after compact_ivf_index. The claim under test: fold cost is the
    daily price, compaction reclaims the accumulated read
    amplification, and probe results are identical throughout."""
    import glob
    import shutil
    import time as _t

    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators import similarity

    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )
    rows_n = 200_000 * n
    emb = spark.range(rows_n).select(
        SF.col("id").alias("vec_id"),
        SF.array(
            *[SF.sin(SF.col("id") * SF.lit(float(k + 1))) for k in range(16)]
        ).cast("array<float>").alias("embedding"),
    )
    ipath = os.path.join(scratch, f"cmp_probe_ivf_x{n}")
    shutil.rmtree(ipath, ignore_errors=True)
    similarity.write_ivf_index(emb, ipath)
    t0 = _t.perf_counter()
    for day in range(1, 8):
        lo = day * 2_000
        batch = emb.filter(
            (SF.col("vec_id") >= lo) & (SF.col("vec_id") < lo + 2_000)
        )
        changes = (
            batch.filter(SF.col("vec_id") % 2 == 0)
            .withColumn("_change_type", SF.lit("delete"))
            .unionByName(
                batch.filter(SF.col("vec_id") % 2 == 1)
                .withColumn("embedding", SF.reverse("embedding"))
                .withColumn("_change_type", SF.lit("update_postimage"))
            )
            .unionByName(
                batch.filter(SF.col("vec_id") % 2 == 1).withColumn(
                    "_change_type", SF.lit("update_preimage")
                )
            )
        )
        similarity.apply_changes_to_ivf_index(spark, ipath, changes, day)
    t_folds = _t.perf_counter() - t0
    queries = [(r["vec_id"], list(r["embedding"]))
               for r in emb.filter(SF.col("vec_id").isin(100_000, 150_000)).collect()]

    def probe():
        best = 1e9
        for _ in range(3):
            t0 = _t.perf_counter()
            similarity.ivf_topk_indexed(spark, ipath, queries, 5).count()
            best = min(best, _t.perf_counter() - t0)
        return best

    def nfiles():
        return len(glob.glob(os.path.join(ipath, "lists", "**", "*.parquet"),
                             recursive=True))

    pre_rows = sorted(
        map(tuple, similarity.ivf_topk_indexed(spark, ipath, queries, 5).collect())
    )
    t_frag, f_frag = probe(), nfiles()
    t0 = _t.perf_counter()
    similarity.compact_ivf_index(spark, ipath)
    t_cmp = _t.perf_counter() - t0
    t_after, f_after = probe(), nfiles()
    post_rows = sorted(
        map(tuple, similarity.ivf_topk_indexed(spark, ipath, queries, 5).collect())
    )
    assert pre_rows == post_rows, "compaction changed probe results"
    print(
        f"x{n} ivf_week[{rows_n} vecs, 7x2k-event folds in {t_folds:.1f}s]: "
        f"probe fragmented {t_frag:.2f}s ({f_frag} files) -> compact "
        f"{t_cmp:.1f}s -> probe {t_after:.2f}s ({f_after} files), "
        "results identical"
    )


def main() -> None:
    args = [a for a in sys.argv[1:]]
    modes = (
        "hot", "stream", "churn", "compactidx", "keystone", "round7",
        "quantizer", "crossover", "headsample", "bulkserve",
        "bulkserve10", "flatbulk", "bulkserve11",
    )
    if any(m in args for m in modes):
        n = next((int(a) for a in args if a.isdigit()), 10)
        spark = get_spark("scale_probe")
        if "hot" in args:
            hot_cluster_probe(spark, n)
        if "stream" in args:
            stream_throughput_probe(spark)
        if "churn" in args:
            churn_probe(spark, n)
        if "compactidx" in args:
            index_compaction_probe(spark, n)
        if "keystone" in args:
            keystone_probe(spark, n)
        if "round7" in args:
            round7_probe(spark, n)
        if "quantizer" in args:
            quantizer_probe(spark, n)
        if "crossover" in args:
            k = next(
                (int(a[2:]) for a in args if a.startswith("k=")), 512
            )
            crossover_probe(spark, n, k)
        if "headsample" in args:
            headsample_probe(spark, n)
        if "bulkserve" in args:
            bulkserve_probe(spark, n)
        if "bulkserve10" in args:
            bulkserve10_probe(spark, n)
        if "flatbulk" in args:
            flatbulk_probe(spark, n)
        if "bulkserve11" in args:
            parts = next(
                (a[6:] for a in args if a.startswith("parts=")), "abc"
            )
            bulkserve11_probe(spark, n, parts)
        spark.stop()
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = replicate(n)
    spark = get_spark("scale_probe")
    REGISTRY["dedup_exact_flags"].spark(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()  # warm
    for q in PROBES:
        t0 = time.perf_counter()
        REGISTRY[q].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        print(f"x{n} {q}: {time.perf_counter() - t0:.2f}s")
        # isolate per-operator cost: accumulated caches from earlier
        # probes otherwise skew (and memory-pressure) later ones
        spark.catalog.clearCache()

    # SemDeDup scaling contrast. The registry entry (embedding_profile,
    # probed above) now DEFAULTS to the corpus-scaled quantizer
    # (semdedup_k: ~100-vector lists ⇒ within-list pair work LINEAR in
    # n). These two lines isolate the SD1 leg: the scaled default vs
    # the round-2 pinned k=IVF_K whose (n/k)^2 list growth was the one
    # flagged scale-killer — kept here as the measured counterexample.
    from map_reduce_sf_crime_spark.operators.similarity import (
        IVF_K,
        semantic_dedup,
        semdedup_k,
    )
    from map_reduce_sf_crime_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k = semdedup_k(emb.count())
    t0 = time.perf_counter()
    semantic_dedup(emb, k=k).write.format("noop").mode("overwrite").save()
    print(f"x{n} semantic_dedup[scaled k={k}]: {time.perf_counter() - t0:.2f}s")
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    semantic_dedup(emb, k=IVF_K).write.format("noop").mode("overwrite").save()
    print(f"x{n} semantic_dedup[pinned k={IVF_K}]: {time.perf_counter() - t0:.2f}s")
    spark.catalog.clearCache()

    # Incremental dedup: recompute form (re-shingles the whole
    # catalog every run) vs the persisted-catalog form (write once,
    # probe bucketed, shuffle only the batch) — quantifies what the
    # catalog buys at the daily-ingest shape. Write time is charged
    # to the one-off build line, not the daily run.
    import shutil

    from pyspark.sql import functions as SF

    from map_reduce_sf_crime_spark.operators.dedup import (
        incremental_lsh_flags,
        incremental_lsh_flags_cataloged,
        write_signature_catalog,
    )

    from map_reduce_sf_crime_spark.sources.parquet import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    pred = (SF.col("doc_id") % 5) == 4
    t0 = time.perf_counter()
    incremental_lsh_flags(docs, pred, threshold=0.8).write.format("noop").mode(
        "overwrite"
    ).save()
    print(f"x{n} incremental[recompute]: {time.perf_counter() - t0:.2f}s")
    spark.catalog.clearCache()
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tb in ("probe_sig_buckets", "probe_sig_shingles"):
        spark.sql(f"drop table if exists {tb}")
        shutil.rmtree(os.path.join(wh, tb), ignore_errors=True)
    t0 = time.perf_counter()
    write_signature_catalog(
        docs.filter(~pred), "probe_sig_buckets", "probe_sig_shingles"
    )
    print(f"x{n} incremental[catalog build, one-off]: {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    incremental_lsh_flags_cataloged(
        spark, docs.filter(pred), "probe_sig_buckets", "probe_sig_shingles",
        threshold=0.8,
    ).write.format("noop").mode("overwrite").save()
    print(f"x{n} incremental[catalog-backed daily run]: {time.perf_counter() - t0:.2f}s")
    # the daily loop's closing step: append the flagged batch's
    # signatures so tomorrow's batch dedups against today's docs —
    # batch-sized shingling + bucketed append, no catalog rewrite
    from map_reduce_sf_crime_spark.operators.dedup import (
        append_signature_catalog,
    )

    t0 = time.perf_counter()
    append_signature_catalog(
        docs.filter(pred), "probe_sig_buckets", "probe_sig_shingles"
    )
    print(f"x{n} incremental[catalog append, daily]: {time.perf_counter() - t0:.2f}s")
    spark.catalog.clearCache()

    # PQ-ADC search: codebook training is bounded, encode + ADC scan
    # are narrow maps, shortlist re-rank is shortlist-sized — the
    # whole path should track input size.
    from map_reduce_sf_crime_spark.operators.similarity import pq_topk

    t0 = time.perf_counter()
    pq_topk(emb, [0, 1, 2, 3, 4], 3).write.format("noop").mode(
        "overwrite"
    ).save()
    print(f"x{n} pq_topk: {time.perf_counter() - t0:.2f}s")

    # Persisted serving paths (late round 3): index build is the
    # one-off line; the indexed query should beat or match its live
    # twin since assignment/encoding never recomputes.
    from map_reduce_sf_crime_spark.operators.similarity import (
        append_ivf_index,
        append_pq_index,
        ivf_topk,
        ivf_topk_indexed,
        pq_topk_indexed,
        write_ivf_index,
        write_pq_index,
    )

    scratch = os.path.join(os.path.dirname(sf_dir), f"probe_idx_x{n}")
    shutil.rmtree(scratch, ignore_errors=True)
    qrows = emb.filter(SF.col("vec_id") < 5).collect()
    queries = [(r["vec_id"], list(r["embedding"])) for r in qrows]
    t0 = time.perf_counter()
    write_ivf_index(emb, os.path.join(scratch, "ivf"))
    print(f"x{n} ivf index[build, one-off]: {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    ivf_topk(emb, [0, 1, 2, 3, 4], 3).write.format("noop").mode("overwrite").save()
    print(f"x{n} ivf_topk[live]: {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    ivf_topk_indexed(spark, os.path.join(scratch, "ivf"), queries, 3).write.format(
        "noop"
    ).mode("overwrite").save()
    print(f"x{n} ivf_topk[indexed]: {time.perf_counter() - t0:.2f}s")
    # daily append: a batch-sized assignment map + write — never
    # re-reads the base lists (cost must track the batch, not n)
    t0 = time.perf_counter()
    append_ivf_index(
        emb.filter(SF.col("vec_id") % 5 == 4), os.path.join(scratch, "ivf"), 1
    )
    print(f"x{n} ivf index[append, daily]: {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    write_pq_index(emb, os.path.join(scratch, "pq"))
    print(f"x{n} pq index[build, one-off]: {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    pq_topk_indexed(
        spark, os.path.join(scratch, "pq"), queries, emb, 3
    ).write.format("noop").mode("overwrite").save()
    print(f"x{n} pq_topk[indexed]: {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    append_pq_index(
        emb.filter(SF.col("vec_id") % 5 == 4), os.path.join(scratch, "pq"), 1
    )
    print(f"x{n} pq index[append, daily]: {time.perf_counter() - t0:.2f}s")
    spark.catalog.clearCache()

    # Lakehouse layout/maintenance: z-order build is sketch + one
    # range shuffle; compaction reads/writes only the touched
    # partitions — both should track input size.
    from map_reduce_sf_crime_spark.sources.lakehouse import (
        compact_partitioned,
        write_zordered,
    )

    t0 = time.perf_counter()
    write_zordered(
        emb.select("vec_id", "label"), os.path.join(scratch, "zorder"),
        ["vec_id", "label"], n_files=32,
    )
    print(f"x{n} write_zordered: {time.perf_counter() - t0:.2f}s")
    cpath = os.path.join(scratch, "compact")
    docs.select("doc_id", "source").repartition(16).write.mode(
        "overwrite"
    ).partitionBy("source").parquet(cpath)
    t0 = time.perf_counter()
    compact_partitioned(spark, cpath, ["source"], target_rows_per_file=10_000_000)
    print(f"x{n} compact_partitioned: {time.perf_counter() - t0:.2f}s")
    shutil.rmtree(scratch, ignore_errors=True)

    hot_cluster_probe(spark, n)
    stream_throughput_probe(spark)
    spark.stop()


if __name__ == "__main__":
    main()
