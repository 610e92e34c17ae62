"""Cache lifecycle: plan-internal caches are scoped to one registry
query — building the next query must release the previous one's
blocks (functions/caching.py), so the 50-query gate session never
accumulates cached data."""

from __future__ import annotations

from map_reduce_sf_crime_spark.functions import caching
from map_reduce_sf_crime_spark.plans.registry import REGISTRY

from .conftest import SF_CHECK


def test_plan_caches_released_at_next_query_build(spark):
    caching.release_plan_caches()
    d1 = REGISTRY["dedup_near_jaccard"].spark(spark, SF_CHECK)
    d1.collect()  # materializes the PPJoin plan's tracked caches
    held = list(caching._TRACKED)
    assert held, "expected the near-dup plan to register plan caches"
    assert any(df.storageLevel.useMemory for df in held)

    # re-building the SAME query is NOT a release boundary — bench
    # reps and retries keep their warm caches
    REGISTRY["dedup_near_jaccard"].spark(spark, SF_CHECK)
    assert any(df.storageLevel.useMemory for df in held)

    # building a DIFFERENT registry query is the release boundary
    REGISTRY["corpus_sample"].spark(spark, SF_CHECK)
    for df in held:
        assert not df.storageLevel.useMemory, "previous query's cache leaked"
    # and an explicit release empties the tracker entirely
    caching.release_plan_caches()
    assert not caching._TRACKED


def test_plan_checkpoint_release_is_loud_and_counted(spark):
    """Round 8 (VERDICT r7 #4 + ADVICE): the released-checkpoint
    failure path is LOUD (a held frame errors on next use instead of
    silently recomputing — there is no lineage left to recompute
    from), and the release loop's success/failure accounting is
    observable: releases on the current plan shape succeed (failure
    counter stays zero), so a Spark-version drift that broke the
    release would show up as a counted, warned failure."""
    import pytest

    caching.release_plan_caches()
    before_failures = caching._RELEASE_FAILURES
    df = spark.range(100).selectExpr("id", "id * 2 as v")
    cp = caching.plan_checkpoint(df)
    assert cp.count() == 100
    assert caching._TRACKED_CHECKPOINTS
    released = caching.release_plan_checkpoints()
    assert released == 1
    assert caching._RELEASE_FAILURES == before_failures, (
        "release failed on the current checkpoint plan shape"
    )
    assert not caching._TRACKED_CHECKPOINTS
    # the loud-failure contract: the checkpointed blocks are gone and
    # the frame has no lineage — acting on the held frame raises
    with pytest.raises(Exception):
        cp.count()


def test_plan_checkpoint_release_after_single_copy(spark):
    """r12 single-copy policy: frames passed via release_after are
    freed the moment the checkpoint materializes — a feeder CACHE is
    unpersisted, and a feeder CHECKPOINT is freed and de-tracked (the
    olap star / corpus_sample pos pattern), with the failure counter
    untouched on the current plan shapes. In the no-checkpoint audit
    mode nothing is released."""
    import pytest

    caching.release_plan_caches()
    before_failures = caching._RELEASE_FAILURES
    base = spark.range(1000).selectExpr("id", "id * 3 as v").cache()
    base.count()
    assert base.storageLevel.useMemory
    mid = caching.plan_checkpoint(base, release_after=(base,))
    # the cache was released as soon as the checkpoint materialized
    assert not base.storageLevel.useMemory
    assert mid.count() == 1000
    # chain: releasing a TRACKED CHECKPOINT de-tracks and frees it
    assert mid in caching._TRACKED_CHECKPOINTS
    final = caching.plan_checkpoint(
        mid.selectExpr("id", "v + 1 as v1"), release_after=(mid,)
    )
    assert mid not in caching._TRACKED_CHECKPOINTS
    assert final.count() == 1000
    assert caching._RELEASE_FAILURES == before_failures
    # mid's blocks are gone and it has no lineage — loud on reuse
    with pytest.raises(Exception):
        mid.count()
    caching.release_plan_caches()


def test_plan_checkpoint_release_after_noop_in_audit_mode(spark, monkeypatch):
    """SPARK_GRAFT_NO_CHECKPOINT=1 takes no checkpoint, so
    release_after must release NOTHING — the caches keep deduplicating
    the fan-out for the plan-audit tooling."""
    caching.release_plan_caches()
    monkeypatch.setenv("SPARK_GRAFT_NO_CHECKPOINT", "1")
    base = spark.range(100).selectExpr("id").cache()
    base.count()
    out = caching.plan_checkpoint(base, release_after=(base,))
    assert out is base
    assert base.storageLevel.useMemory, "audit mode must not release"
    base.unpersist()


def _bounded_frame(spark):
    return spark.range(0, 600, 1, 4).selectExpr("id", "id % 5 as g", "id * 2 as v")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_plan_checkpoint_single_reports_single_partition(spark):
    """plan_checkpoint_single's LogicalRDD reports SinglePartition, so
    an aggregate over it plans no Exchange under AQE, and its values
    equal plan_checkpoint's."""
    caching.release_plan_caches()
    df = _bounded_frame(spark)
    one = caching.plan_checkpoint_single(df)
    plain = caching.plan_checkpoint(df)
    analyzed = one._jdf.queryExecution().analyzed()
    assert analyzed.nodeName() == "LogicalRDD"
    assert analyzed.outputPartitioning().toString() == "SinglePartition"
    assert caching.is_single_partition(one)
    assert not caching.is_single_partition(plain)
    assert one in caching._TRACKED_CHECKPOINTS
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    agg = one.groupBy("g").agg({"v": "sum"})
    assert "Exchange" not in agg._jdf.queryExecution().executedPlan().toString()
    assert _rows(one) == _rows(plain)
    assert _rows(agg) == _rows(plain.groupBy("g").agg({"v": "sum"}))
    caching.release_plan_caches()


def test_plan_checkpoint_single_restores_aqe_when_checkpoint_raises(
    spark, monkeypatch
):
    """The non-adaptive window is scoped: the session's AQE setting is
    restored after the checkpoint, also when the checkpoint raises."""
    import pytest

    key = "spark.sql.adaptive.enabled"
    seen = []

    def boom(df, **kw):
        seen.append(spark.conf.get(key))
        raise RuntimeError("checkpoint failed")

    for prev in ("false", "true"):
        spark.conf.set(key, prev)
        with monkeypatch.context() as m:
            m.setattr(caching, "plan_checkpoint", boom)
            with pytest.raises(RuntimeError, match="checkpoint failed"):
                caching.plan_checkpoint_single(_bounded_frame(spark))
        assert spark.conf.get(key) == prev
    assert seen == ["false", "false"]


def test_plan_checkpoint_single_audit_mode_values(spark, monkeypatch):
    """SPARK_GRAFT_NO_CHECKPOINT=1 takes no checkpoint and tracks
    nothing; the returned frame (a one-partition repartition) keeps
    the values."""
    caching.release_plan_caches()
    df = _bounded_frame(spark)
    want = _rows(df)
    monkeypatch.setenv("SPARK_GRAFT_NO_CHECKPOINT", "1")
    out = caching.plan_checkpoint_single(df)
    assert not caching._TRACKED_CHECKPOINTS
    assert caching.is_single_partition(out)
    assert not caching.is_single_partition(df)
    assert _rows(out) == want


def test_plan_checkpoint_reliable_mode(spark, tmp_path):
    """reliable=True routes through Dataset.checkpoint() into the
    session's checkpoint directory (durable storage on a real
    cluster — survives executor loss, unlike localCheckpoint), is
    value-identical, is NOT tracked for eager release, and refuses
    loudly when no checkpoint dir is set."""
    import pytest

    sc = spark.sparkContext
    had_dir = not sc._jsc.sc().checkpointDir().isEmpty()
    if not had_dir:
        with pytest.raises(RuntimeError, match="setCheckpointDir"):
            caching.plan_checkpoint(spark.range(3), reliable=True)
    sc.setCheckpointDir(str(tmp_path / "reliable_cp"))
    df = spark.range(50).selectExpr("id", "id % 7 as g")
    want = sorted(map(tuple, df.collect()))
    tracked_before = len(caching._TRACKED_CHECKPOINTS)
    cp = caching.plan_checkpoint(df, reliable=True)
    assert sorted(map(tuple, cp.collect())) == want
    assert len(caching._TRACKED_CHECKPOINTS) == tracked_before
    # the artifact lives in the checkpoint dir (reliable storage)
    import os

    files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(str(tmp_path / "reliable_cp"))
        for f in fs
    ]
    assert files, "reliable checkpoint wrote nothing to the checkpoint dir"
    # releases do not touch it: the frame still serves afterwards
    caching.release_plan_caches()
    assert sorted(map(tuple, cp.collect())) == want


def test_registry_query_through_reliable_checkpoint_matches(spark, tmp_path, monkeypatch):
    """End-to-end reliable mode (round-8 verdict #7): a real registry
    query whose final artifact goes through plan_checkpoint —
    corpus_sample — built once in default (localCheckpoint) mode and
    once with SPARK_GRAFT_RELIABLE_CHECKPOINT=1 + a real checkpoint
    dir, with bit-identical results; the reliable build's artifact
    physically lands in the checkpoint directory. Call sites stay
    mode-agnostic: the env knob is the cluster-deployment switch."""
    import os

    from map_reduce_sf_crime_spark.plans import registry as reg

    rows_of = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    q = REGISTRY["corpus_sample"].spark
    want = rows_of(q(spark, SF_CHECK))
    # flip the registry's consecutive-build memo boundary so the
    # reliable build actually rebuilds instead of returning the frame
    # memoized by the default-mode build above
    reg._BUILT.clear()
    reg._LAST_BUILT[0] = None
    cp_dir = str(tmp_path / "reliable_e2e")
    sc = spark.sparkContext
    sc.setCheckpointDir(cp_dir)
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    got = rows_of(q(spark, SF_CHECK))
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    assert got == want and got
    files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(cp_dir)
        for f in fs
    ]
    assert files, "reliable registry build wrote nothing durable"
    reg._BUILT.clear()
    reg._LAST_BUILT[0] = None


def test_checkpoint_release_invalidates_registry_memo(spark):
    """Round-9 lifecycle fix: an explicit release_plan_caches() kills
    tracked localCheckpoints, which are NOT recomputable — so it must
    also invalidate the registry's consecutive-build memo, or the
    next same-name build returns a dead frame
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on first use). After the
    release, a same-name build must be a fresh frame that collects."""
    caching.release_plan_caches()
    q = REGISTRY["corpus_sample"].spark
    df1 = q(spark, SF_CHECK)
    n1 = df1.count()
    caching.release_plan_caches()
    df2 = q(spark, SF_CHECK)
    assert df2 is not df1, "stale memo frame served after release"
    assert df2.count() == n1 > 0


def test_release_frame_fallback_failure_is_counted():
    """An untracked frame whose unpersist raises is counted into
    _RELEASE_FAILURES and warned, exactly like a failed checkpoint
    release — never swallowed silently."""
    import pytest

    class BrokenFrame:
        def unpersist(self):
            raise RuntimeError("session stopped")

    before = caching._RELEASE_FAILURES
    with pytest.warns(RuntimeWarning, match="releasing an intermediate"):
        caching._release_frame(BrokenFrame())
    assert caching._RELEASE_FAILURES == before + 1


def test_gateway_key_is_not_reused_after_gateway_gc():
    """gateway_key() must change when the gateway is replaced, even if
    the new gateway object lands at the freed one's address (which an
    id()-based key would alias)."""
    import gc

    from pyspark import SparkContext

    class Gateway:
        pass

    real = SparkContext._gateway
    try:
        old = Gateway()
        SparkContext._gateway = old
        k_old = caching.gateway_key()
        assert caching.gateway_key() == k_old
        old_addr = id(old)
        SparkContext._gateway = None
        del old
        gc.collect()
        # allocate until CPython hands back the freed address (it
        # usually does at once); the key must differ regardless
        held = []
        new = Gateway()
        while id(new) != old_addr and len(held) < 1000:
            held.append(new)
            new = Gateway()
        SparkContext._gateway = new
        assert caching.gateway_key() != k_old
    finally:
        SparkContext._gateway = real
