"""Scale probe: replicate the documents/embeddings fixtures N× into
.scratch and time the heavy operators — answers "does this operator's
cost scale with input (good) or blow up superlinearly (bad)?" locally.

Caveat baked into the reading: replication gives every doc N-1 exact
twins, so NEAR-DUP OUTPUT grows ~N² by construction. Pair-emitting
operators (near_jaccard, minhash_lsh, simhash, near_pairs) are
expected to track their output size; linear operators (exact dedup,
text stats, signatures, assignments) must track input size.

    python tools/scale_probe.py [N=10]      # per-operator N-x probe
    python tools/scale_probe.py churn N     # change-feed churn probe
    python tools/scale_probe.py compactidx N  # ANN fold-week vs compaction

Numbers from earlier one-off probes are recorded in BASELINE.md.
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
    args = sys.argv[1:]
    if "churn" in args or "compactidx" in args:
        n = next((int(a) for a in args if a.isdigit()), 10)
        spark = get_spark("scale_probe")
        if "churn" in args:
            churn_probe(spark, n)
        if "compactidx" in args:
            index_compaction_probe(spark, n)
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
    spark.stop()


if __name__ == "__main__":
    main()
