"""Round-13 pins for the deploy-mode checkpoint policy (VERDICT r12
what's-wrong #4): ``lineage_barrier`` picks localCheckpoint / reliable
checkpoint / tracked persist by conf, plan-only assertions per branch.
"""

from __future__ import annotations

import pytest

from zarr_datafusion_search_spark.operators.cache import (
    _barrier_mode,
    lineage_barrier,
    release_operator_caches,
)


@pytest.fixture()
def frame(spark):
    return spark.range(100).selectExpr("id", "id * 2 AS v")


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_branch_is_local_checkpoint(spark, frame):
    spark.conf.set("spark.zdss.lineageBarrier", "local")
    try:
        out = lineage_barrier(frame, eager=True)
        # checkpointed frames plan as a scan of existing blocks: no lineage
        assert "LogicalRDD" in _plan(out) or "ExistingRDD" in _plan(out)
    finally:
        spark.conf.unset("spark.zdss.lineageBarrier")


def test_auto_is_local_under_local_master(spark, frame):
    # the test session runs under local[...]: auto == local
    out = lineage_barrier(frame, eager=False)
    assert "LogicalRDD" in _plan(out) or "ExistingRDD" in _plan(out)


def test_reliable_without_dir_keeps_lineage_via_persist(spark, frame):
    spark.conf.set("spark.zdss.lineageBarrier", "reliable")
    try:
        assert spark.sparkContext.getCheckpointDir() is None
        out = lineage_barrier(frame, eager=True)
        p = _plan(out)
        # lineage preserved (recoverable): the original Range scan is still
        # in the plan, served through an InMemoryRelation
        assert "InMemoryRelation" in p and "Range" in p
        assert out.count() == 100
    finally:
        spark.conf.unset("spark.zdss.lineageBarrier")
        release_operator_caches()


def test_reliable_with_dir_uses_reliable_checkpoint(spark, frame, tmp_path):
    spark.conf.set("spark.zdss.lineageBarrier", "reliable")
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        out = lineage_barrier(frame, eager=True)
        p = _plan(out)
        assert "LogicalRDD" in p or "ExistingRDD" in p
        # the blocks live on the checkpoint filesystem, not executor memory
        assert (tmp_path / "ckpt").exists()
        assert out.count() == 100
    finally:
        spark.conf.unset("spark.zdss.lineageBarrier")
        release_operator_caches()
        # clear the checkpoint dir on the SHARED session (there is no
        # public unset API): later tests must see the no-dir state
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
        assert sc.getCheckpointDir() is None


def test_invalid_mode_raises(spark, frame):
    spark.conf.set("spark.zdss.lineageBarrier", "bogus")
    try:
        with pytest.raises(ValueError, match="lineageBarrier"):
            lineage_barrier(frame)
    finally:
        spark.conf.unset("spark.zdss.lineageBarrier")


@pytest.mark.parametrize(
    "master, mode",
    [
        ("local", "local"),
        ("local[4]", "local"),
        ("local[*]", "local"),
        ("local[4,2]", "local"),
        ("local[*, 3]", "local"),
        ("local-cluster[2,1,1024]", "reliable"),
        ("spark://host:7077", "reliable"),
        ("yarn", "reliable"),
        ("k8s://https://host:6443", "reliable"),
        ("localhost", "reliable"),
        ("", "reliable"),
    ],
)
def test_auto_mode_by_master(master, mode):
    # auto resolves from the master string alone; explicit modes pass through
    assert _barrier_mode("auto", master) == mode
    assert _barrier_mode("local", master) == "local"
    assert _barrier_mode("reliable", master) == "reliable"


def test_reliable_without_dir_refuses_iterative_callers(spark, frame):
    """Reliable mode with no checkpoint dir: an iterative barrier raises a
    clear error instead of nesting lineage and pinning a cache each round,
    and so do pagerank, label_propagation and bpe_train; a one-shot
    barrier still falls back to a lineage-keeping persist."""
    from zarr_datafusion_search_spark.operators.graph import label_propagation, pagerank
    from zarr_datafusion_search_spark.operators.text import bpe_train

    edges = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.8), ("c", "a", 0.7)], "doc_a string, doc_b string, jaccard double"
    )
    seeds = spark.createDataFrame([("a", "web")], "node string, label string")
    docs = spark.createDataFrame([("low lower lowest",), ("newer newest",)], "text string")
    spark.conf.set("spark.zdss.lineageBarrier", "reliable")
    try:
        assert spark.sparkContext.getCheckpointDir() is None
        with pytest.raises(RuntimeError, match="setCheckpointDir"):
            lineage_barrier(frame, eager=True, iterative=True)
        for run in (
            lambda: pagerank(edges, src="doc_a", dst="doc_b", driver_max_nodes=0),
            lambda: label_propagation(edges, seeds),
            lambda: bpe_train(docs, n_merges=2),
        ):
            with pytest.raises(RuntimeError, match="iterative operator"):
                run()
        assert "InMemoryRelation" in _plan(lineage_barrier(frame, eager=True))
    finally:
        spark.conf.unset("spark.zdss.lineageBarrier")
        release_operator_caches()
    # the local barrier is unaffected
    assert lineage_barrier(frame, eager=True, iterative=True).count() == 100
