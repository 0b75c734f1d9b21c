"""Tests for the pluggable materialization seam (materialize.py).

Verifies that operators route every lineage cut through
``materialize.materialize`` so deployments can swap the strategy
(localCheckpoint vs reliable checkpoint vs DISK_ONLY persist) without
touching operator code.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data___knowledge_graph_construction_with_llm_spark import materialize as M
from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import (
    connected_components,
)


def test_default_is_local_checkpoint():
    assert M.get_materializer() is M.local_checkpoint


def test_using_materializer_scoped_restore():
    def fake(df):
        return df

    with M.using_materializer(fake):
        assert M.get_materializer() is fake
    assert M.get_materializer() is M.local_checkpoint


def test_counting_materializer_is_used_by_operators(spark, monkeypatch):
    # inject a counting wrapper; connected_components must funnel every
    # lineage cut through the seam: on the loop (forced with the driver
    # bound at 0) raw edges + symmetrized edges + initial labels + 1/iter,
    # on the driver path the one raw-edge materialization
    from big_data___knowledge_graph_construction_with_llm_spark.operators import graph_algos

    calls = []

    def counting(df):
        calls.append(1)
        return M.local_checkpoint(df)

    e = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("y", "x")], "src string, dst string"
    )
    expect = {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    with M.using_materializer(counting):
        comp = {r["id"]: r["comp"] for r in connected_components(e).collect()}
    assert comp == expect
    assert len(calls) == 1
    calls.clear()
    monkeypatch.setattr(graph_algos, "DRIVER_CC_MAX_EDGES", 0)
    with M.using_materializer(counting):
        comp = {r["id"]: r["comp"] for r in connected_components(e).collect()}
    assert comp == expect
    # raw + symmetrized edges + initial labels + >=1 iteration
    assert len(calls) >= 4


def test_persist_disk_materializer_correct(spark):
    # swap in the lineage-preserving strategy and re-run an iterative
    # algorithm end to end: results must be identical
    e = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c")], "src string, dst string"
    )
    with M.using_materializer(M.persist_disk):
        comp = {r["id"]: r["comp"] for r in connected_components(e).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_reliable_checkpoint_materializer(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    out = M.reliable_checkpoint(df)
    assert out.count() == 10
    assert [r["x"] for r in out.orderBy("id").collect()] == [i * 2 for i in range(10)]


def _held_bytes(spark, ck) -> int:
    """MemoryStore bytes held by the blocks of ``ck``'s own checkpoint
    RDD, read from the store itself. Per RDD, not as a MemoryStore
    total: in a full-suite run the store also holds ~200 MB of other
    tests' broadcast blocks, which the ContextCleaner frees
    asynchronously — a total dropped by 162 MB across one checkpoint
    once, reading as a negative hold. Not through ``getRDDStorageInfo``
    either: that filters on the driver's persistent-RDD map, which
    ``unpersist`` clears before any block is freed, and reports sizes
    the listener bus delivers late."""
    rdd = ck._jdf.queryExecution().analyzed().rdd()
    store = spark.sparkContext._jsc.sc().env().blockManager().memoryStore()
    blocks = [
        spark.sparkContext._jvm.org.apache.spark.storage.RDDBlockId(rdd.id(), p)
        for p in range(rdd.getNumPartitions())
    ]
    # getSize throws on an absent block
    return sum(store.getSize(b) for b in blocks if store.contains(b))


def test_release_frees_local_checkpoint_blocks(spark):
    """The ADVICE finding release() exists for: Dataset.unpersist() is a
    no-op on localCheckpoint blocks (they're RDD-level persisted, not
    CacheManager entries), so release() must unpersist the LogicalRDD's
    internal RDD — MemoryStore usage has to drop back to ~baseline."""
    df = spark.range(200_000).selectExpr("id", "repeat(cast(id as string), 20) AS s")
    ck = M.local_checkpoint(df)
    held = _held_bytes(spark, ck)
    assert held > 1_000_000  # the checkpoint actually lives in the MemoryStore
    ck.unpersist()  # documented no-op for this strategy
    assert _held_bytes(spark, ck) > held * 0.9
    M.release(ck, blocking=True)
    assert _held_bytes(spark, ck) < held // 10


def test_release_uncaches_persist_disk(spark):
    df = spark.range(1000).selectExpr("id", "id * 2 AS x")
    out = M.persist_disk(df)
    assert out.storageLevel.useDisk
    M.release(out)
    M.flush_releases()  # non-blocking release defers to the next drain (r15)
    assert not out.storageLevel.useDisk and not out.storageLevel.useMemory


def test_release_is_deferred_one_generation(spark, monkeypatch):
    """The r15 race fix: release(blocking=False) must NOT drop blocks
    until a LATER materialize (started after the release) completes —
    a frame read by anything still in flight at release time keeps its
    blocks for a full extra job. blocking=True stays immediate. That
    materialize drains with a blocking unpersist, so the blocks are gone
    when it returns; the spy pins that, since a non-blocking removal
    usually wins the race against the store read on an idle host."""
    drained = []
    unpersist_now = M._unpersist_now

    def spy(df, blocking):
        drained.append(blocking)
        unpersist_now(df, blocking)

    monkeypatch.setattr(M, "_unpersist_now", spy)
    ck = M.local_checkpoint(
        spark.range(200_000).selectExpr("id", "repeat(cast(id as string), 20) AS s")
    )
    held = _held_bytes(spark, ck)
    assert held > 1_000_000
    M.release(ck)  # queued, not dropped
    assert _held_bytes(spark, ck) > held * 0.9
    # the frame is still fully readable in this generation
    assert ck.count() == 200_000
    # a materialize that STARTED after the release drains it
    nxt = M.materialize(spark.range(10).selectExpr("id"))
    assert drained and all(drained)
    assert _held_bytes(spark, ck) < held // 10
    M.release(nxt, blocking=True)


def test_flush_releases_drains_queue(spark):
    ck = M.local_checkpoint(
        spark.range(200_000).selectExpr("id", "repeat(cast(id as string), 20) AS s")
    )
    held = _held_bytes(spark, ck)
    M.release(ck)
    assert _held_bytes(spark, ck) > held * 0.9
    M.flush_releases()
    assert _held_bytes(spark, ck) < held // 10


def test_release_is_safe_on_plain_frames(spark):
    # releasing a never-materialized frame (or a projection over one)
    # must be a silent no-op, not an error
    df = spark.range(10).selectExpr("id * 3 AS x")
    M.release(df)
    assert df.count() == 10


def test_drain_releases_every_frame_when_one_unpersist_raises(spark, monkeypatch):
    """One stale frame's failing unpersist must not leak the rest of
    the due batch: every frame is attempted, then the first error
    surfaces from the draining materialize()."""
    frames = [spark.range(n) for n in (1, 2, 3)]
    attempted = []

    def unpersist(df, blocking):
        attempted.append(df)
        if df is frames[1]:
            raise RuntimeError("stale frame")

    monkeypatch.setattr(M, "_unpersist_now", unpersist)
    for df in frames:
        M.release(df)
    import pytest

    with pytest.raises(RuntimeError, match="stale frame"):
        M.materialize(spark.range(5))
    assert all(any(a is df for a in attempted) for df in frames)
    assert not any(q is df for _t, q in M._pending_release for df in frames)


def test_iterative_release_bounds_storage(spark):
    """The supersede pattern the operators use: materialize stage N+1,
    release stage N. Persisted-RDD storage must stay bounded at ~one
    frame instead of growing linearly with the iteration count."""
    sc = spark.sparkContext._jsc.sc()
    base = len(sc.getRDDStorageInfo())
    cur = M.materialize(spark.range(50_000).selectExpr("id", "id * 2 AS v"))
    for i in range(5):
        nxt = M.materialize(cur.selectExpr("id", f"v + {i} AS v"))
        M.release(cur)
        cur = nxt
        assert len(sc.getRDDStorageInfo()) - base <= 2  # cur (+ in-flight nxt)
    assert cur.agg(F.count("*")).first()[0] == 50_000
    M.release(cur)


def test_connected_components_releases_iteration_frames(spark, monkeypatch):
    """After CC returns, only the frame backing the result should remain
    persisted — on the loop the raw and symmetrized edge copies and
    every superseded iteration frame are released inside the loop
    (pre-fix this left ~2+iterations persisted RDDs behind per call);
    the driver path returns a local frame and keeps nothing."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators import graph_algos

    sc = spark.sparkContext._jsc.sc()
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, dst long"
    )
    for bound, kept in ((graph_algos.DRIVER_CC_MAX_EDGES, 0), (0, 1)):
        monkeypatch.setattr(graph_algos, "DRIVER_CC_MAX_EDGES", bound)
        M.flush_releases()
        base = len(sc.getRDDStorageInfo())
        labels = connected_components(e)
        assert labels.filter(F.col("comp") != 0).count() == 0  # one 0-rooted chain
        # deferred releases (r15) keep the tail frames queued until the
        # next materialize; flush to assert the leak-free end state
        M.flush_releases()
        assert len(sc.getRDDStorageInfo()) - base <= kept  # the result's frame


def test_k_hop_releases_edge_copy_and_empty_probe(spark):
    """k_hop_distances keeps only the level frames that back its result:
    the (symmetrized) edge copy and — on early exit — the empty frontier
    probe frame are released, not left persisted until GC."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import (
        k_hop_distances,
    )

    sc = spark.sparkContext._jsc.sc()
    base = len(sc.getRDDStorageInfo())
    # a 3-vertex path probed at k=5 exhausts the frontier at level 2,
    # exercising the empty-probe early exit
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    src = spark.createDataFrame([(0,)], "id long")
    out = {(r["id"], r["dist"]) for r in k_hop_distances(edges, src, k=5).collect()}
    assert out == {(0, 0), (1, 1), (2, 2)}
    M.flush_releases()  # drain the deferred edge-copy/probe releases (r15)
    # persisted: exactly the 3 level frames (dist 0, 1, 2) the result reads
    assert len(sc.getRDDStorageInfo()) - base <= 3
