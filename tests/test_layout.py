"""Data-layout management (`operators.layout`): generational small-file
compaction, range clustering, Z-order — with the skip claims verified against
executor `input_bytes`, not plan text."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
    clustering_stats,
    compact_table,
    decoded_scan_rows,
    read_table,
    with_zorder,
    write_table,
    write_clustered,
    zorder_key,
)


def _corpus(spark, n=200_000):
    # deterministic payload wide enough that data pages dominate footers
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") * 37 % 1000).alias("a"),
        (F.col("id") * 61 % 1000).alias("b"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("layout") / "corpus")
    # arrival order (id), fragmented: every file carries the full a/b range
    _corpus(spark).repartition(16).write.parquet(p)
    return p


def test_compact_partitioned_rewrite(spark, tmp_path):
    root = str(tmp_path / "part")
    df = _corpus(spark, 20_000).withColumn("bucket", F.col("id") % 4)
    write_table(df.repartition(16), root, partition_by=["bucket"])
    rep = compact_table(
        spark, root, target_file_bytes=1 << 30, partition_by=["bucket"]
    )
    assert rep["after"]["n_files"] < rep["before"]["n_files"]
    out = read_table(spark, root)
    assert out.count() == 20_000
    # partition layout survives (pruning still works after compaction)
    assert "bucket" in out.columns
    assert out.filter(F.col("bucket") == 2).count() == 5_000


def test_compact_missing_path_raises(spark, tmp_path):
    with pytest.raises(ValueError):
        compact_table(spark, str(tmp_path / "nope"))


def test_clustered_scan_skips_decoded_rows(spark, corpus_path, tmp_path_factory):
    clustered = str(tmp_path_factory.mktemp("layout") / "clustered")
    write_clustered(spark.read.parquet(corpus_path), clustered, ["a"], n_files=16)

    pred = (F.col("a") >= 100) & (F.col("a") < 150)  # ~5% of the domain
    n = spark.read.parquet(corpus_path).count()
    rand = decoded_scan_rows(spark.read.parquet(corpus_path).filter(pred))
    clus = decoded_scan_rows(spark.read.parquet(clustered).filter(pred))
    # the filter reaches the scan on both layouts
    plan = (
        spark.read.parquet(clustered)
        .filter(pred)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "GreaterThanOrEqual(a,100)" in plan
    # arrival-order layout cannot skip (every row group spans the full
    # domain → all rows decoded); range-clustered decodes a fraction
    assert rand == n
    assert clus < 0.3 * n
    # same answer on both layouts
    a = spark.read.parquet(corpus_path).filter(pred).orderBy("id").collect()
    b = spark.read.parquet(clustered).filter(pred).orderBy("id").collect()
    assert a == b
    # footer truth: clustered spans ~disjoint, fragmented spans overlap
    assert clustering_stats(clustered, "a")["overlap_fraction"] < 0.3
    assert clustering_stats(corpus_path, "a")["overlap_fraction"] > 0.7


def test_zorder_key_is_monotone_per_column(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"x": [0, 1, 2, 3, 0, 0], "y": [0, 0, 0, 0, 1, 2]})
    )
    rows = df.select(
        "x", "y", zorder_key([F.col("x"), F.col("y")], bits=4).alias("z")
    ).collect()
    z = {(r["x"], r["y"]): r["z"] for r in rows}
    # with the other column fixed, the key is monotone in each column
    assert z[(0, 0)] < z[(1, 0)] < z[(2, 0)] < z[(3, 0)]
    assert z[(0, 0)] < z[(0, 1)] < z[(0, 2)]
    # interleave: x bit j at 2j, y bit j at 2j+1
    assert z[(1, 0)] == 1 and z[(0, 1)] == 2 and z[(3, 0)] == 5


def test_zorder_skips_on_both_columns(spark, corpus_path, tmp_path_factory):
    base = spark.read.parquet(corpus_path)
    xonly = str(tmp_path_factory.mktemp("layout") / "xonly")
    zpath = str(tmp_path_factory.mktemp("layout") / "zord")
    write_clustered(base, xonly, ["a"], n_files=16)
    zdf = with_zorder(base, ["a", "b"], bits=6)
    write_clustered(zdf, zpath, ["_zkey"], n_files=16)

    pred_b = (F.col("b") >= 100) & (F.col("b") < 150)
    n = base.count()
    on_x = decoded_scan_rows(spark.read.parquet(xonly).filter(pred_b))
    on_z = decoded_scan_rows(spark.read.parquet(zpath).filter(pred_b))
    # clustering on `a` alone serves only `a`: a filter on `b` decodes
    # everything; the z-ordered layout skips on EITHER column
    assert on_x == n
    assert on_z < 0.6 * n
    # and a filter on `a` still skips on the z layout too
    pred_a = (F.col("a") >= 100) & (F.col("a") < 150)
    za = decoded_scan_rows(spark.read.parquet(zpath).filter(pred_a))
    assert za < 0.6 * n
    # correctness: identical rows from every layout
    want = sorted(
        r["id"] for r in base.filter(pred_b).select("id").collect()
    )
    got = sorted(
        r["id"] for r in spark.read.parquet(zpath).filter(pred_b).select("id").collect()
    )
    assert got == want


def test_with_zorder_bucketing_is_equal_frequency(spark):
    # heavily skewed column: equal-width bucketing would dump ~all rows
    # in one bucket; the quantile bucketing spreads them
    df = spark.range(10_000).select(
        (F.when(F.col("id") < 9_000, F.col("id") % 10)
         .otherwise(F.col("id"))).alias("skew"),
        (F.col("id") % 100).alias("u"),
    )
    out = with_zorder(df, ["skew", "u"], bits=4)
    n_keys = out.select("_zkey").distinct().count()
    assert n_keys > 16  # >2**bits ⇒ both columns contribute spread


def test_zorder_bits_overflow_guard(spark):
    with pytest.raises(ValueError, match="63"):
        zorder_key([F.col("a")] * 8, bits=8)  # 64 bits -> sign bit
    df = spark.range(10).select(*[(F.col("id") % 3).alias(f"c{i}") for i in range(8)])
    with pytest.raises(ValueError, match="63"):
        with_zorder(df, [f"c{i}" for i in range(8)], bits=8)
    # 7 columns x 8 bits = 56 stays legal
    assert "_zkey" in with_zorder(df, [f"c{i}" for i in range(7)], bits=8).columns


def test_string_order_key_preserves_binary_order(spark):
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        _string_order_key,
    )

    vals = ["", "a", "ab", "abc", "b", "ba", "zzzzzzzz", "zzzzzzzzz", "Z"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select("s", _string_order_key(F.col("s")).alias("k")).collect()
    k = {r["s"]: r["k"] for r in rows}
    # sorting by the key must agree with Spark's binary string order
    # wherever the 7-byte prefixes differ (shared-prefix ties collapse)
    by_key = sorted(vals, key=lambda v: (k[v], v))
    assert by_key == sorted(vals)
    # shared 7-byte prefix collapses to the same key (documented)
    assert k["zzzzzzzz"] == k["zzzzzzzzz"]


def test_zorder_on_string_column_skips(spark, tmp_path_factory):
    # string + numeric z-order: a selective filter on the STRING column
    # must decode far fewer rows than the arrival-order layout
    n = 100_000
    base = spark.range(n).select(
        F.col("id"),
        (F.col("id") * 37 % 1000).alias("a"),
        F.concat(
            F.lpad((F.col("id") * 61 % 500).cast("string"), 4, "0"),
            F.lit("-"),
            F.sha2(F.col("id").cast("string"), 256),
        ).alias("name"),
    )
    arrival = str(tmp_path_factory.mktemp("layout") / "arrival")
    zpath = str(tmp_path_factory.mktemp("layout") / "zstr")
    base.repartition(8).write.parquet(arrival)
    zdf = with_zorder(spark.read.parquet(arrival), ["a", "name"], bits=5)
    assert "__zstr1" not in zdf.columns  # helper column dropped
    write_clustered(zdf, zpath, ["_zkey"], n_files=16)

    pred = (F.col("name") >= "0100") & (F.col("name") < "0130")
    on_arrival = decoded_scan_rows(spark.read.parquet(arrival).filter(pred))
    on_z = decoded_scan_rows(spark.read.parquet(zpath).filter(pred))
    assert on_arrival == n  # every arrival-order file spans the domain
    assert on_z < 0.6 * n
    want = sorted(r["id"] for r in base.filter(pred).select("id").collect())
    got = sorted(
        r["id"]
        for r in spark.read.parquet(zpath).filter(pred).select("id").collect()
    )
    assert got == want


def test_write_read_compact_table_generations(spark, tmp_path):
    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        compact_table,
        current_table_path,
        gc_table_generations,
        read_table,
        write_table,
    )

    root = str(tmp_path / "tbl")
    with pytest.raises(ValueError, match="no committed"):
        current_table_path(spark, root)
    df = _corpus(spark, n=20_000)
    gen0 = write_table(df.repartition(32), root)
    assert read_table(spark, root).count() == 20_000
    assert fsutil.read_text(spark, f"{root}/_CURRENT").strip() == gen0

    rep = compact_table(spark, root, target_file_bytes=1 << 30)
    assert rep["before"]["n_files"] == 32
    assert rep["after"]["n_files"] == 1
    assert rep["generation"] != gen0
    out = read_table(spark, root)
    assert out.count() == 20_000
    # checksum-preserving: same ids both generations
    assert out.agg(F.sum("id")).first()[0] == df.agg(F.sum("id")).first()[0]
    # the superseded generation is still on disk until GC; the winner
    # is protected unconditionally, age regardless
    assert fsutil.exists(spark, f"{root}/{gen0}")
    deleted = gc_table_generations(spark, root, max_age_ms=0, now_ms=2**62)
    assert deleted == sorted([gen0])
    assert read_table(spark, root).count() == 20_000


def test_compact_table_two_writer_race(spark, tmp_path):
    """Two compactors race on one table root (barrier: both resolve the
    same current generation before either commits). Marker-last means
    BOTH rewrites land complete, the last marker wins, and a reader
    resolves a full table at every point."""
    import threading

    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        compact_table,
        read_table,
        write_table,
    )

    root = str(tmp_path / "tbl_race")
    write_table(_corpus(spark, n=10_000).repartition(16), root)
    barrier = threading.Barrier(2)
    results, errors = [], []

    def compactor():
        try:
            barrier.wait(timeout=60)
            results.append(compact_table(spark, root, target_file_bytes=1 << 30))
        except Exception as e:  # noqa: BLE001 - surface in main thread
            errors.append(e)

    threads = [threading.Thread(target=compactor) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert len(results) == 2
    # whichever marker landed last, the table reads complete
    assert read_table(spark, root).count() == 10_000
    # and both attempt generations are complete on disk
    from big_data___knowledge_graph_construction_with_llm_spark import fsutil

    for rep in results:
        assert fsutil.exists(spark, f"{root}/{rep['generation']}/_COMPLETE")


def test_table_marker_tolerates_staleness(spark, tmp_path):
    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        current_table_path,
        write_table,
    )

    root = str(tmp_path / "tbl_stale")
    # marker naming a vanished generation -> no committed generation
    fsutil.write_text(spark, f"{root}/_CURRENT", "gen-deadbeef0000")
    with pytest.raises(ValueError, match="no committed"):
        current_table_path(spark, root)
    # a real write repairs it
    write_table(_corpus(spark, n=100), root)
    assert current_table_path(spark, root).endswith("/data")


def test_zorder_string_strips_common_prefix(spark, tmp_path_factory):
    # zero-padded ids: all values share a long constant prefix, so the
    # naive 7-byte key would collapse to ONE bucket — the common-prefix
    # strip must put the key bytes on the entropy
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        _common_prefix_len,
    )

    assert _common_prefix_len("item-00000100", "item-00001999") == 9
    assert _common_prefix_len("", "anything") == 0
    n = 50_000
    base = spark.range(n).select(
        F.col("id"),
        F.format_string("item-%08d", F.col("id") % 2000).alias("name"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    zpath = str(tmp_path_factory.mktemp("layout") / "zpad")
    zdf = with_zorder(base, ["name"], bits=6)
    assert zdf.select("_zkey").distinct().count() > 16  # real spread
    write_clustered(zdf, zpath, ["_zkey"], n_files=16)
    pred = (F.col("name") >= "item-00000100") & (F.col("name") < "item-00000150")
    decoded = decoded_scan_rows(spark.read.parquet(zpath).filter(pred))
    assert decoded < 0.3 * n


def test_try_read_text_tolerates_mid_write_artifacts(spark, tmp_path):
    # absent file, unreadable path, and a good read. Marker files write
    # RAW (no .crc sidecar) so two same-path committers can never
    # interleave data and sidecar into a permanent checksum mismatch —
    # the failure mode the two-writer race originally exposed
    import os

    from big_data___knowledge_graph_construction_with_llm_spark import fsutil

    p = str(tmp_path / "m" / "_CURRENT")
    assert fsutil.try_read_text(spark, p) is None
    fsutil.write_text(spark, p, "gen-abc")
    assert fsutil.try_read_text(spark, p) == "gen-abc"
    assert not os.path.exists(str(tmp_path / "m" / "._CURRENT.crc"))
    # an unreadable path (a directory) -> raw read raises, tolerant None
    d = str(tmp_path / "adir")
    os.makedirs(d)
    import pytest as _pytest

    with _pytest.raises(Exception):
        fsutil.read_text(spark, d)
    assert fsutil.try_read_text(spark, d) is None


def test_maybe_compact_table_thresholds(spark, tmp_path):
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        maybe_compact_table,
        read_table,
        write_table,
    )

    root = str(tmp_path / "tbl_maint")
    write_table(_corpus(spark, n=5_000).repartition(4), root)
    # 4 small files < min_small_files=16 -> no-op, one listing
    rep = maybe_compact_table(spark, root, target_file_bytes=1 << 30)
    assert rep["compacted"] is False and rep["stats"]["n_files"] == 4
    # fragment past the threshold -> compacts
    write_table(read_table(spark, root).repartition(32), root)
    rep = maybe_compact_table(spark, root, target_file_bytes=1 << 30)
    assert rep["compacted"] is True
    assert rep["before"]["n_files"] == 32 and rep["after"]["n_files"] == 1
    assert read_table(spark, root).count() == 5_000
    # and the freshly compacted table is a no-op again
    assert maybe_compact_table(spark, root, target_file_bytes=1 << 30)[
        "compacted"
    ] is False


def test_compact_table_recluster_restores_skipping(spark, tmp_path):
    """cluster_cols= turns the generational rewrite into re-clustering
    maintenance: after arrival-order appends erode the layout, one
    compact_table pass restores row-group skipping on the filter
    column (the OPTIMIZE-ZORDER shape on raw parquet)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        compact_table,
        current_table_path,
        read_table,
        write_table,
    )

    root = str(tmp_path / "tbl_recluster")
    write_table(_corpus(spark, n=100_000).repartition(16), root)  # arrival order
    pred = (F.col("a") >= 100) & (F.col("a") < 150)
    n = 100_000
    eroded = decoded_scan_rows(read_table(spark, root).filter(pred))
    assert eroded == n  # every file spans the full domain
    with pytest.raises(ValueError, match="exclusive"):
        compact_table(spark, root, partition_by=["a"], cluster_cols=["a"])
    rep = compact_table(
        spark, root, target_file_bytes=1 << 18, cluster_cols=["a"]
    )
    assert rep["generation"].startswith("gen-")
    restored = decoded_scan_rows(read_table(spark, root).filter(pred))
    assert restored < 0.3 * n
    assert read_table(spark, root).count() == n
    assert clustering_stats(
        current_table_path(spark, root), "a"
    )["overlap_fraction"] < 0.3


def test_string_order_key_property_unicode(spark):
    """Hypothesis sweep of the key's TRUE contract: the numeric key
    never INVERTS Spark's binary string order (which is what parquet's
    unsigned footer stats use) — including multi-byte code points
    split mid-sequence by the 7-byte cut — and collides ONLY where two
    strings' first 7 bytes differ by trailing NULs alone (zero-padding
    can't distinguish '' from '\\x00'; a collision merely co-buckets
    the pair, footer stats stay on the original strings)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        _string_order_key,
    )

    # one Spark round-trip per example would be minutes; compute the
    # key's DEFINITION in python and check it against a single batch
    # evaluated through Spark at the end
    def py_key(s: str) -> int:
        b = s.encode("utf-8")[:7]
        return int.from_bytes(b + bytes(7 - len(b)), "big")

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=12), st.text(max_size=12))
    def check(a, b):
        ka, kb = py_key(a), py_key(b)
        ba, bb = a.encode("utf-8"), b.encode("utf-8")
        if ka != kb:  # ordered keys must agree with byte order exactly
            assert (ka < kb) == (ba < bb)
        else:  # collisions: identical first-7 bytes up to trailing NULs
            assert ba[:7].rstrip(b"\x00") == bb[:7].rstrip(b"\x00")

    check()

    # the Spark expression agrees with the python twin on a mixed batch
    vals = ["", "a", "ß", "日本語テキスト", "zzzzzzzzz", "item-0001", "\x00x", "🙂🙂🙂"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select("s", _string_order_key(F.col("s")).alias("k")).collect()
    for r in rows:
        assert r["k"] == py_key(r["s"]), r["s"]


def test_read_table_time_travel(spark, tmp_path):
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        compact_table,
        list_table_generations,
        read_table,
        write_table,
    )

    root = str(tmp_path / "tbl_tt")
    gen0 = write_table(_corpus(spark, n=1_000).repartition(8), root)
    rep = compact_table(spark, root, target_file_bytes=1 << 30)
    gens = list_table_generations(spark, root)
    assert {g["generation"] for g in gens} == {gen0, rep["generation"]}
    assert sum(g["current"] for g in gens) == 1
    assert next(g for g in gens if g["current"])["generation"] == rep["generation"]
    # pinned read of the superseded generation still works pre-GC,
    # and both generations carry identical rows
    old = read_table(spark, root, generation=gen0)
    new = read_table(spark, root)
    assert old.count() == new.count() == 1_000
    assert old.agg(F.sum("id")).first()[0] == new.agg(F.sum("id")).first()[0]
    with pytest.raises(ValueError, match="absent or incomplete"):
        read_table(spark, root, generation="gen-000000000000")


def test_manifest_prunes_files_and_matches_full_read(spark, tmp_path):
    """write_table writes a per-generation _MANIFEST; read_table(where=)
    opens ONLY the files whose min/max may match and still returns
    exactly read_table().filter(...) — the file-level skipping layer
    above parquet's row-group pruning."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        prune_manifest_files,
        read_manifest,
        read_table,
        write_table,
    )

    root = str(tmp_path / "tbl_manifest")
    df = _corpus(spark, n=50_000)
    # range-clustered on `a` so file spans are disjoint and prunable
    write_table(
        df.repartitionByRange(8, F.col("a")).sortWithinPartitions("a"), root
    )
    man = read_manifest(spark, root)
    assert man is not None and len(man["files"]) == 8
    assert sum(f["rows"] for f in man["files"]) == 50_000
    assert all("a" in f["stats"] and "payload" in f["stats"] for f in man["files"])

    where = [("a", ">=", 100), ("a", "<", 120)]
    kept = prune_manifest_files(man, where)
    assert 0 < len(kept) < 8  # provably-excluded files dropped
    pruned = read_table(spark, root, where=where)
    full = read_table(spark, root).filter((F.col("a") >= 100) & (F.col("a") < 120))
    assert pruned.count() == full.count() > 0
    assert (
        pruned.agg(F.sum("id")).first()[0] == full.agg(F.sum("id")).first()[0]
    )
    # the pruned plan reads only the kept files
    files_in_plan = pruned.select("id").inputFiles()
    assert len(files_in_plan) == len(kept)

    # string predicate prunes through the same manifest
    kept_s = prune_manifest_files(man, ("payload", "<", "1"))
    got = read_table(spark, root, where=("payload", "<", "1")).count()
    want = read_table(spark, root).filter(F.col("payload") < "1").count()
    assert got == want > 0 and len(kept_s) <= 8

    # a predicate beyond the domain keeps zero files; the read stays
    # schema-correct and empty
    none = read_table(spark, root, where=("a", ">", 10_000))
    assert none.count() == 0
    assert none.columns == read_table(spark, root).columns


def test_manifest_fallback_and_compact_table_manifest(spark, tmp_path):
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        compact_table,
        read_manifest,
        read_table,
        write_table,
    )

    root = str(tmp_path / "tbl_nomani")
    df = _corpus(spark, n=10_000)
    write_table(df.repartition(4), root, manifest=False)
    assert read_manifest(spark, root) is None
    # pre-manifest generation: where= falls back to full read + filter
    got = read_table(spark, root, where=("a", "==", 7)).count()
    assert got == df.filter(F.col("a") == 7).count() > 0

    # a compaction rewrite (re-clustered) carries a fresh manifest and
    # its verify recount rides the manifest's row totals (one pass)
    rep = compact_table(
        spark, root, target_file_bytes=1 << 16, cluster_cols=["a"]
    )
    man = read_manifest(spark, root)
    assert man is not None
    assert sum(f["rows"] for f in man["files"]) == 10_000
    assert len(man["files"]) == rep["after"]["n_files"]
    pinned = read_table(
        spark, root, generation=rep["generation"], where=("a", "<", 10)
    )
    assert pinned.count() == df.filter(F.col("a") < 10).count()


def test_prune_manifest_files_op_semantics():
    """Driver-side pruning truth table: every op keeps exactly the
    files whose span may contain a match; unknown columns, missing
    stats and cross-type comparisons conservatively keep."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        prune_manifest_files,
    )

    man = {
        "version": 2,
        "columns": ["x", "s"],
        "types": {"x": "bigint", "s": "string"},
        "files": [
            {"file": "f0", "rows": 10, "stats": {"x": [0, 9], "s": ["a", "m"]}},
            {"file": "f1", "rows": 10, "stats": {"x": [10, 19], "s": ["n", "z"]}},
            {"file": "f2", "rows": 10, "stats": {}},  # no stats: always kept
        ],
    }
    assert prune_manifest_files(man, ("x", "==", 5)) == ["f0", "f2"]
    assert prune_manifest_files(man, ("x", ">=", 10)) == ["f1", "f2"]
    assert prune_manifest_files(man, ("x", ">", 9)) == ["f1", "f2"]
    assert prune_manifest_files(man, ("x", "<=", 9)) == ["f0", "f2"]
    assert prune_manifest_files(man, ("x", "<", 10)) == ["f0", "f2"]
    # boundary: x < 0 excludes f0 (min 0 is not < 0)
    assert prune_manifest_files(man, ("x", "<", 0)) == ["f2"]
    # conjunction intersects
    assert prune_manifest_files(man, [("x", ">=", 5), ("s", "<", "c")]) == [
        "f0",
        "f2",
    ]
    # unknown column / cross-type: keep everything
    assert len(prune_manifest_files(man, ("y", "==", 1))) == 3
    assert len(prune_manifest_files(man, ("s", ">", 5))) == 3
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported prune op"):
        prune_manifest_files(man, ("x", "!=", 1))


def test_manifest_sidecar_sharded_prune(spark, tmp_path, monkeypatch):
    """Past the inline threshold the per-file entries live in the
    _MANIFEST_FILES parquet sidecar: the root JSON stays O(dirs), the
    file-level prune runs as one tiny Spark job, and the pruned read
    still opens only the surviving files with results identical to the
    full read + filter."""
    import pytest as _pytest

    from big_data___knowledge_graph_construction_with_llm_spark.operators import layout
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        prune_manifest_files,
        read_manifest,
        read_table,
        write_table,
    )

    monkeypatch.setattr(layout, "_MANIFEST_INLINE_MAX", 4)
    root = str(tmp_path / "tbl_shard")
    df = _corpus(spark, n=20_000)
    write_table(
        df.repartitionByRange(16, F.col("a")).sortWithinPartitions("a"), root
    )
    man = read_manifest(spark, root)
    assert man["version"] == 2 and "files" not in man
    assert man["files_table"] == "_MANIFEST_FILES"
    assert man["n_files"] == 16 and man["total_rows"] == 20_000
    assert len(man["dirs"]) == 1  # unpartitioned: one root dir
    d = man["dirs"][0]
    assert d["dir"] == "" and d["n_files"] == 16 and d["rows"] == 20_000
    assert d["stats"]["a"] == [0, 999]

    where = [("a", ">=", 100), ("a", "<", 120)]
    pruned = read_table(spark, root, where=where)
    full = read_table(spark, root).filter(
        (F.col("a") >= 100) & (F.col("a") < 120)
    )
    assert pruned.count() == full.count() > 0
    assert pruned.agg(F.sum("id")).first()[0] == full.agg(F.sum("id")).first()[0]
    assert 0 < len(pruned.select("id").inputFiles()) < 16

    # the inline driver-side walker refuses a sharded manifest rather
    # than silently pruning nothing
    with _pytest.raises(ValueError, match="sidecar"):
        prune_manifest_files(man, where)

    # beyond-domain predicate: zero survivors, schema-correct empty
    none = read_table(spark, root, where=("a", ">", 10_000))
    assert none.count() == 0 and none.columns == full.columns
    # non-selective predicate: everything survives -> plain full read
    allr = read_table(spark, root, where=("a", ">=", 0))
    assert allr.count() == 20_000


def test_manifest_sharded_whole_dir_pass(spark, tmp_path, monkeypatch):
    """Sharded prune over a HIVE-partitioned generation: a directory
    whose every file survives is handed to the reader as ONE whole-dir
    path (no explicit per-file argument list), dir-level spans exclude
    whole directories before any file-level work, and results stay
    identical to the filtered full read."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators import layout
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        _prune_plan,
        current_table_path,
        read_manifest,
        read_table,
        write_table,
    )

    monkeypatch.setattr(layout, "_MANIFEST_INLINE_MAX", 4)
    root = str(tmp_path / "tbl_shard_part")
    df = _corpus(spark, n=20_000).withColumn("bucket", F.col("id") % 4)
    write_table(df.repartition(8), root, partition_by=["bucket"])
    man = read_manifest(spark, root)
    assert "files" not in man and len(man["dirs"]) == 4
    assert {d["dir"] for d in man["dirs"]} == {f"bucket={b}" for b in range(4)}

    gen_dir = current_table_path(spark, root)[: -len("/data")]
    plan = _prune_plan(spark, man, ("bucket", "==", 2), gen_dir)
    # dir-level exclusion alone resolves the predicate; the surviving
    # dir passes WHOLE (file level keeps all its files)
    assert plan["dirs"] == ["bucket=2"] and plan["files"] == []
    got = read_table(spark, root, where=("bucket", "==", 2))
    assert "bucket" in got.columns and got.count() == 5_000
    assert all("bucket=2" in f for f in got.select("id").inputFiles())

    # a dir no file can match at dir level -> provably-empty read
    plan_none = _prune_plan(spark, man, ("bucket", "==", 7), gen_dir)
    assert plan_none["dirs"] == [] and plan_none["files"] == []
    assert read_table(spark, root, where=("bucket", "==", 7)).count() == 0

    # conjunct across partition + data columns still matches the
    # filtered full read exactly
    mixed = read_table(
        spark, root, where=[("bucket", "in", [1, 3]), ("a", "<", 100)]
    )
    want = df.filter(F.col("bucket").isin(1, 3) & (F.col("a") < 100))
    assert mixed.count() == want.count() > 0


def test_manifest_timestamp_bounds_are_timezone_safe(spark, tmp_path):
    """Timestamp manifest bounds are UTC epoch micros, not naive ISO
    strings: tz-aware predicates prune exactly, and NAIVE predicates
    are interpreted in the SESSION timezone — matching the residual
    F.lit — so a session tz that differs from the write-time zone can
    never flip a comparison and drop a matching file (ADVICE r10)."""
    import datetime as dt
    from zoneinfo import ZoneInfo

    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        read_manifest,
        read_table,
        write_table,
    )

    root = str(tmp_path / "tbl_ts")
    base_s = 1_700_000_000
    df = spark.range(1_000).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(base_s) + F.col("id") * 60).alias("ts"),
    )
    write_table(
        df.repartitionByRange(8, F.col("ts")).sortWithinPartitions("ts"), root
    )
    man = read_manifest(spark, root)
    assert man["types"]["ts"].startswith("timestamp")
    span = man["files"][0]["stats"]["ts"]
    assert isinstance(span[0], int) and isinstance(span[1], int)

    lo = dt.datetime.fromtimestamp(base_s + 100 * 60, dt.timezone.utc)
    hi = dt.datetime.fromtimestamp(base_s + 200 * 60, dt.timezone.utc)
    where = [("ts", ">=", lo), ("ts", "<", hi)]
    pruned = read_table(spark, root, where=where)
    full = read_table(spark, root).filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
    )
    assert pruned.count() == full.count() == 100
    assert 0 < len(pruned.select("id").inputFiles()) < 8

    # naive predicate under a flipped SESSION tz: F.lit interprets a
    # naive datetime in the driver's OS zone regardless of session tz
    # (probed), and the prune uses the same interpretation — so the
    # pruned read still equals the residual-filtered full read, with
    # files actually skipped, even when the session tz at read time
    # differs from the write-time zone
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        lo_n, hi_n = lo.replace(tzinfo=None), hi.replace(tzinfo=None)
        os_off = lo.astimezone().utcoffset()  # this container: UTC
        assert os_off == dt.timedelta(0), "test assumes a UTC OS zone"
        pruned_n = read_table(
            spark, root, where=[("ts", ">=", lo_n), ("ts", "<", hi_n)]
        )
        full_n = read_table(spark, root).filter(
            (F.col("ts") >= F.lit(lo_n)) & (F.col("ts") < F.lit(hi_n))
        )
        assert pruned_n.count() == full_n.count() == 100
        assert 0 < len(pruned_n.select("id").inputFiles()) < 8
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert ZoneInfo  # imported for documentation of the OS-zone probe


def test_commit_marker_failure_semantics(spark, tmp_path, monkeypatch):
    """A marker-write failure is swallowed ONLY when a concurrent
    winner demonstrably exists; on a first-ever write (no winner) it
    re-raises instead of returning success over an unreadable table."""
    import pytest as _pytest

    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        read_table,
        write_table,
    )

    df = _corpus(spark, n=100)
    real_write = fsutil.write_text

    def failing_marker_write(sp, path, content):
        if path.endswith("/_CURRENT"):
            raise OSError("injected: marker write failed")
        return real_write(sp, path, content)

    # first-ever write, no winner anywhere -> the failure surfaces
    root1 = str(tmp_path / "tbl_fail_fresh")
    monkeypatch.setattr(fsutil, "write_text", failing_marker_write)
    with _pytest.raises(OSError, match="injected"):
        write_table(df, root1, manifest=False)
    monkeypatch.setattr(fsutil, "write_text", real_write)

    # a committed winner exists -> the same failure is a lost race and
    # is swallowed; readers keep resolving the winner
    root2 = str(tmp_path / "tbl_fail_raced")
    gen0 = write_table(df, root2, manifest=False)
    monkeypatch.setattr(fsutil, "write_text", failing_marker_write)
    gen1 = write_table(df, root2, manifest=False)
    monkeypatch.setattr(fsutil, "write_text", real_write)
    assert gen1 != gen0
    assert fsutil.read_text(spark, f"{root2}/_CURRENT").strip() == gen0
    assert read_table(spark, root2).count() == 100


def test_ingest_table_landing_absorb_and_replay(spark, tmp_path):
    """Streaming ingest → generational table, duplicate-free in every
    window: micro-batches land as one partition each; the combined
    reader sees generation + unabsorbed landing; absorb folds a
    snapshot into the next generation with a cumulative _ABSORBED
    ledger; a replay that re-lands an ABSORBED batch stays subtracted
    forever and the next absorb does not re-fold it."""
    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        absorb_landing,
        landing_append,
        read_ingest_table,
        read_table,
    )

    root = str(tmp_path / "ingest")

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), (F.col("id") * 3).alias("v")
        )

    for b in range(4):
        landing_append(batch(b * 100, b * 100 + 100), root, b)
    live = read_ingest_table(spark, root)
    assert live.count() == 400
    assert set(live.columns) == {"id", "v", "_lineage", "_batch_id"}

    # census gate: below min_batches nothing rewrites
    skip = absorb_landing(spark, root, min_batches=50)
    assert skip == {"absorbed": False, "pending_batches": 4}

    rep = absorb_landing(spark, root, min_batches=2)
    assert rep["absorbed"] is True and rep["absorbed_batches"] == 4
    assert read_table(spark, root).count() == 400          # stable snapshot
    assert read_ingest_table(spark, root).count() == 400   # no duplicates
    assert len(fsutil.list_files(spark, f"{root}/landing")) == 0

    # replay of an ABSORBED batch re-lands its partition; the ledger
    # subtracts it (rows already live in the generation) — count holds
    landing_append(batch(100, 200), root, 1)
    assert read_ingest_table(spark, root).count() == 400

    # a genuinely new batch shows up live before any absorb
    landing_append(batch(400, 450), root, 4)
    assert read_ingest_table(spark, root).count() == 450
    assert read_table(spark, root).count() == 400  # snapshot unchanged

    # second absorb folds ONLY batch 4 (the replayed 1 is in the
    # ledger); totals stay exact and the ledger accumulates
    rep2 = absorb_landing(spark, root, min_batches=1)
    assert rep2["absorbed_batches"] == 1 and rep2["ledger_size"] == 5
    assert read_table(spark, root).count() == 450
    assert read_ingest_table(spark, root).count() == 450
    # value-level integrity across the whole flow
    got = read_table(spark, root).agg(F.sum("v")).first()[0]
    want = sum(i * 3 for i in range(400)) + sum(i * 3 for i in range(400, 450))
    assert got == want


def test_manifest_partitioned_table_and_in_predicate(spark, tmp_path):
    """Manifests over a HIVE-PARTITIONED generation: relative paths
    carry the partition dirs, the pruned read re-derives the partition
    column via basePath, stats cover partition AND data columns, and
    the `in` predicate prunes per-member (keep iff any member may hit
    the span)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        prune_manifest_files,
        read_manifest,
        read_table,
        write_table,
    )

    root = str(tmp_path / "tbl_part")
    df = _corpus(spark, n=20_000).withColumn("bucket", F.col("id") % 4)
    write_table(
        df.repartition(4, "bucket").sortWithinPartitions("a"),
        root,
        partition_by=["bucket"],
    )
    man = read_manifest(spark, root)
    assert man is not None
    assert all(f["file"].startswith("bucket=") for f in man["files"])
    assert all("bucket" in f["stats"] and "a" in f["stats"] for f in man["files"])

    # partition-column equality prunes to that partition's files
    kept = prune_manifest_files(man, ("bucket", "==", 2))
    assert kept and all(f.startswith("bucket=2/") for f in kept)
    got = read_table(spark, root, where=("bucket", "==", 2))
    assert "bucket" in got.columns  # basePath re-derives the partition col
    assert got.count() == 5_000
    assert len(got.select("id").inputFiles()) == len(kept)

    # `in` prunes per member and filters exactly
    kept_in = prune_manifest_files(man, ("bucket", "in", [1, 3]))
    assert kept_in and all(
        f.startswith(("bucket=1/", "bucket=3/")) for f in kept_in
    )
    got_in = read_table(spark, root, where=("bucket", "in", [1, 3]))
    assert got_in.count() == 10_000
    assert sorted(
        r["bucket"] for r in got_in.select("bucket").distinct().collect()
    ) == [1, 3]

    # conjunct across partition and data columns composes
    mixed = read_table(
        spark, root, where=[("bucket", "==", 0), ("a", "<", 100)]
    )
    want = df.filter((F.col("bucket") == 0) & (F.col("a") < 100)).count()
    assert mixed.count() == want > 0


def test_compact_table_aborts_when_source_superseded(spark, tmp_path, monkeypatch):
    """compact_table racing absorb_landing: the absorb commits a new
    generation (and deletes its absorbed landing partitions) while the
    compaction is mid-rewrite of the OLD generation. Flipping the
    marker to the rewrite would lose those batches permanently — the
    currency check must abort the flip instead, leaving the absorb's
    generation current and every row intact."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators import layout
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        absorb_landing,
        compact_table,
        landing_append,
        read_ingest_table,
        read_table,
    )

    root = str(tmp_path / "ingest_race")
    for b in range(3):
        landing_append(spark.range(b * 10, b * 10 + 10).toDF("id"), root, b)
    absorb_landing(spark, root, min_batches=1)
    landing_append(spark.range(30, 40).toDF("id"), root, 3)

    # inject the race: a concurrent absorb commits (and deletes batch
    # 3's landing partition) while the compaction is mid-rewrite
    real_manifest = layout._write_manifest
    fired = {"n": 0}

    def absorbing_manifest(sp, data_path, manifest_path, stats_cols=None):
        if fired["n"] == 0:
            fired["n"] += 1
            absorb_landing(sp, root, min_batches=1)
        return real_manifest(sp, data_path, manifest_path, stats_cols)

    monkeypatch.setattr(layout, "_write_manifest", absorbing_manifest)
    rep = compact_table(spark, root, target_file_bytes=1 << 30)
    monkeypatch.setattr(layout, "_write_manifest", real_manifest)

    assert rep["committed"] is False and "superseded" in rep["reason"]
    # the absorb's generation stayed current: all 40 rows, no loss
    assert read_table(spark, root).count() == 40
    assert read_ingest_table(spark, root).count() == 40
    # a clean compaction afterwards commits normally
    rep2 = compact_table(spark, root, target_file_bytes=1 << 30)
    assert rep2["committed"] is True
    assert read_ingest_table(spark, root).count() == 40


def test_compact_table_carries_ingest_ledger(spark, tmp_path):
    """Compacting an ingest table's generation must carry _ABSORBED
    forward: without it a replayed landing partition of an absorbed
    batch would be read twice by read_ingest_table."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        absorb_landing,
        compact_table,
        landing_append,
        read_ingest_table,
    )

    root = str(tmp_path / "ingest_c")
    for b in range(3):
        landing_append(
            spark.range(b * 10, b * 10 + 10).toDF("id"), root, b
        )
    absorb_landing(spark, root, min_batches=1)
    # replay an absorbed batch, THEN compact the generation
    landing_append(spark.range(10, 20).toDF("id"), root, 1)
    compact_table(spark, root, target_file_bytes=1 << 30)
    live = read_ingest_table(spark, root)
    assert live.count() == 30  # replayed partition still subtracted
    # and a genuinely new batch remains visible
    landing_append(spark.range(30, 35).toDF("id"), root, 3)
    assert read_ingest_table(spark, root).count() == 35


def test_absorbed_ledger_range_encoding():
    """The ledger is O(gaps): contiguous batch ids collapse to [lo,hi]
    ranges; singletons stay bare ints."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        _encode_ranges,
    )

    assert _encode_ranges(set()) == []
    assert _encode_ranges({5}) == [5]
    assert _encode_ranges({0, 1, 2, 3}) == [[0, 3]]
    assert _encode_ranges({0, 1, 3, 7, 8}) == [[0, 1], 3, [7, 8]]
    # round-trip through the decoder's semantics
    enc = _encode_ranges(set(range(100)) | {200, 300, 301})
    assert enc == [[0, 99], 200, [300, 301]]


def _fail_marker_writes(monkeypatch, fsutil_mod, suffixes, times=None):
    """Patch fsutil.write_text to raise for paths ending in one of
    ``suffixes`` (optionally only the first ``times`` calls)."""
    real = fsutil_mod.write_text
    state = {"left": times}

    def failing(sp, path, content):
        if path.endswith(tuple(suffixes)) and (
            state["left"] is None or state["left"] > 0
        ):
            if state["left"] is not None:
                state["left"] -= 1
            raise OSError(f"injected: marker write failed for {path}")
        return real(sp, path, content)

    monkeypatch.setattr(fsutil_mod, "write_text", failing)
    return real


def test_absorb_landing_never_deletes_on_invisible_commit(
    spark, tmp_path, monkeypatch
):
    """A swallowed marker failure (winner exists) must NOT delete the
    landing partitions whose rows live only in the unreferenced new
    generation — that would permanently lose the absorbed batches. The
    report says so, the live view stays complete, and the next
    (healthy) absorb retries the same batches."""
    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        absorb_landing,
        landing_append,
        read_ingest_table,
    )

    root = str(tmp_path / "ingest_fail")
    landing_append(spark.range(0, 10).toDF("id"), root, 0)
    rep0 = absorb_landing(spark, root, min_batches=1)
    assert rep0["committed"] is True and rep0["landing_deleted"] is True

    landing_append(spark.range(10, 20).toDF("id"), root, 1)
    landing_append(spark.range(20, 30).toDF("id"), root, 2)
    real = _fail_marker_writes(monkeypatch, fsutil, ["/_CURRENT"])
    rep1 = absorb_landing(spark, root, min_batches=1)
    monkeypatch.setattr(fsutil, "write_text", real)
    assert rep1["absorbed"] is True
    assert rep1["committed"] is False          # marker never flipped
    assert rep1["landing_deleted"] is False    # nothing deleted
    # every row still reachable: old generation + intact landing
    assert read_ingest_table(spark, root).count() == 30

    rep2 = absorb_landing(spark, root, min_batches=1)  # healthy retry
    assert rep2["committed"] is True and rep2["absorbed_batches"] == 2
    assert read_ingest_table(spark, root).count() == 30
    assert spark.read.parquet(
        f"{root}/{rep2['generation']}/data"
    ).count() == 30


def test_absorb_landing_deferred_delete_and_gc(spark, tmp_path):
    """delete_absorbed=False leaves absorbed partitions for the
    age-thresholded gc_landing sweep; the ledger keeps reads exact in
    the meantime, and unabsorbed batches never sweep."""
    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        absorb_landing,
        gc_landing,
        landing_append,
        read_ingest_table,
    )

    root = str(tmp_path / "ingest_gc")
    for b in range(3):
        landing_append(spark.range(b * 10, b * 10 + 10).toDF("id"), root, b)
    rep = absorb_landing(spark, root, min_batches=1, delete_absorbed=False)
    assert rep["committed"] is True and rep["landing_deleted"] is False
    # absorbed partitions still on disk; the ledger keeps reads exact
    assert len(fsutil.list_files(spark, f"{root}/landing")) > 0
    assert read_ingest_table(spark, root).count() == 30
    # a fresh (unabsorbed) batch must survive any sweep
    landing_append(spark.range(30, 40).toDF("id"), root, 3)
    # young partitions are protected by age
    assert gc_landing(spark, root, max_age_ms=10**12) == []
    swept = gc_landing(spark, root, max_age_ms=0, now_ms=2**62)
    assert swept == [
        f"_lineage=default/_batch_id={b}" for b in range(3)
    ]
    assert read_ingest_table(spark, root).count() == 40


def test_absorb_landing_loses_race_gracefully(spark, tmp_path, monkeypatch):
    """Two absorb passes, one root: the loser's snapshotted landing
    partitions vanish mid-write when the winner's visible commit
    deletes them. The loser must return the not-absorbed report shape
    (the scheduler calls this unconditionally) — never an exception,
    never a lost row."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators import layout
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        absorb_landing,
        landing_append,
        read_ingest_table,
    )

    root = str(tmp_path / "ingest_race2")
    for b in range(3):
        landing_append(spark.range(b * 10, b * 10 + 10).toDF("id"), root, b)

    real_wt = layout.write_table
    fired: dict = {}

    def racing_write_table(df, r, **kw):
        if not fired:
            fired["x"] = True
            inner = absorb_landing(spark, root, min_batches=1)
            assert inner["committed"] is True and inner["landing_deleted"]
        return real_wt(df, r, **kw)

    monkeypatch.setattr(layout, "write_table", racing_write_table)
    rep = absorb_landing(spark, root, min_batches=1)
    monkeypatch.setattr(layout, "write_table", real_wt)
    assert rep["absorbed"] is False and "raced" in rep["reason"]
    # every row lives in the winner's generation
    assert read_ingest_table(spark, root).count() == 30
    assert sorted(
        r["id"] for r in read_ingest_table(spark, root).collect()
    ) == list(range(30))


def test_ingest_lineage_isolates_streams_and_restarts(spark, tmp_path):
    """The (lineage, batch_id) namespace (the fingerprint store's r4
    lesson, ported): a fresh checkpoint restarting batch ids at 0
    lands under a NEW lineage and cannot dynamic-overwrite absorbed
    history; two streams landing into one root stay disjoint; a
    replay stays subtracted PER LINEAGE; reserved/invalid lineage
    names are rejected."""
    import pytest as _pytest

    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        absorb_landing,
        landing_append,
        read_ingest_table,
        read_table,
    )

    root = str(tmp_path / "ingest_lin")

    def batch(lo, hi):
        return spark.range(lo, hi).toDF("id")

    # stream A lands batches 0-2 and absorbs
    for b in range(3):
        landing_append(batch(b * 10, b * 10 + 10), root, b, lineage="runA")
    absorb_landing(spark, root, min_batches=1)
    assert read_table(spark, root).count() == 30

    # FRESH CHECKPOINT: batch ids restart at 0 under a new lineage —
    # batch (runB, 0) must not collide with absorbed (runA, 0)
    landing_append(batch(100, 105), root, 0, lineage="runB")
    live = read_ingest_table(spark, root)
    assert live.count() == 35
    # a second stream's batch 0 coexists with runB's batch 0
    landing_append(batch(200, 207), root, 0, lineage="runC")
    assert read_ingest_table(spark, root).count() == 42

    # absorb folds both lineages; replays of either stay subtracted
    rep = absorb_landing(spark, root, min_batches=1)
    assert rep["absorbed_batches"] == 2
    assert read_table(spark, root).count() == 42
    landing_append(batch(100, 105), root, 0, lineage="runB")  # replay
    landing_append(batch(0, 10), root, 0, lineage="runA")     # replay
    assert read_ingest_table(spark, root).count() == 42
    # per-lineage integrity: each lineage's rows intact
    by_lin = {
        r["_lineage"]: r["n"]
        for r in read_table(spark, root)
        .groupBy("_lineage")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_lin == {"runA": 30, "runB": 5, "runC": 7}

    # reserved / malformed lineage names are refused up front
    for bad in ("", "legacy", "a/b", "a=b"):
        with _pytest.raises(ValueError, match="lineage"):
            landing_append(batch(0, 1), root, 9, lineage=bad)


def test_incremental_absorb_chains_generations(spark, tmp_path):
    """absorb_landing(incremental=True) is O(landed batches), not
    O(table): the new generation holds ONLY the absorbed rows and
    chains to the head via _PARENT; readers union the chain
    transparently (full, filtered, pruned, time-travel), GC protects
    the chain, and compact_table folds it back to one parentless
    generation with the ledger carried."""
    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        absorb_landing,
        compact_table,
        gc_table_generations,
        landing_append,
        maybe_compact_table,
        read_ingest_table,
        read_table,
    )

    root = str(tmp_path / "ingest_chain")
    for b in range(3):
        landing_append(spark.range(b * 100, b * 100 + 100).toDF("id"), root, b)
    rep1 = absorb_landing(spark, root, min_batches=1, incremental=True)
    assert rep1["committed"] is True and rep1["parent"] is None  # first: no head
    assert read_table(spark, root).count() == 300

    # second absorb: a DELTA generation — its data dir holds ONLY the
    # two new batches' rows (the O(batches) claim, checked directly)
    landing_append(spark.range(300, 350).toDF("id"), root, 3)
    landing_append(spark.range(350, 400).toDF("id"), root, 4)
    rep2 = absorb_landing(spark, root, min_batches=1, incremental=True)
    assert rep2["parent"] == rep1["generation"]
    assert fsutil.read_text(
        spark, f"{root}/{rep2['generation']}/_PARENT"
    ).strip() == rep1["generation"]
    delta_rows = spark.read.parquet(f"{root}/{rep2['generation']}/data")
    assert delta_rows.count() == 100  # only the new batches

    # readers union the chain: full, live, filtered, pruned, pinned
    assert read_table(spark, root).count() == 400
    assert read_ingest_table(spark, root).count() == 400
    got = read_table(spark, root, where=[("id", ">=", 250), ("id", "<", 320)])
    assert got.count() == 70  # spans both chain members
    assert read_table(spark, root, generation=rep1["generation"]).count() == 300

    # replay of an absorbed batch stays subtracted (ledger on the head)
    landing_append(spark.range(300, 350).toDF("id"), root, 3)
    assert read_ingest_table(spark, root).count() == 400

    # GC protects the winner's whole chain
    assert gc_table_generations(spark, root, max_age_ms=0, now_ms=2**62) == []

    # the chain-length gate folds: two links < 4 skip, then trigger
    skip = maybe_compact_table(spark, root, min_chain_links=4)
    assert skip["compacted"] is False and skip["stats"]["chain_links"] == 2
    rep_fold = maybe_compact_table(spark, root, min_chain_links=2)
    assert rep_fold["compacted"] is True and rep_fold["links_folded"] == 2
    assert rep_fold["committed"] is True
    # folded: parentless, full content, superseded chain sweeps
    head = fsutil.read_text(spark, f"{root}/_CURRENT").strip()
    assert not fsutil.exists(spark, f"{root}/{head}/_PARENT")
    assert read_table(spark, root).count() == 400
    swept = gc_table_generations(spark, root, max_age_ms=0, now_ms=2**62)
    assert sorted(swept) == sorted([rep1["generation"], rep2["generation"]])
    # ledger carried through the fold: the replayed partition (and a
    # fresh re-land of an absorbed batch) stay subtracted
    landing_append(spark.range(0, 100).toDF("id"), root, 0)
    assert read_ingest_table(spark, root).count() == 400
    assert read_table(spark, root).agg(F.sum("id")).first()[0] == sum(
        range(400)
    )


def test_incremental_absorb_onto_legacy_generation(spark, tmp_path):
    """An incremental delta chained onto a generation WITHOUT a
    ``_lineage`` column — a table seeded by write_table, as a serving
    edge table is before streaming absorbs feed it: the seed rows read
    under the reserved legacy lineage, filtered and bloom-pruned chain
    reads stay exact, and lineage predicates work across the mixed
    chain."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        absorb_landing,
        landing_append,
        read_ingest_table,
        read_table,
        write_table,
    )

    root = str(tmp_path / "ingest_chain_legacy")
    write_table(spark.range(20).toDF("id"), root, bloom_cols=["id"])
    landing_append(spark.range(100, 110).toDF("id"), root, 0, lineage="runA")
    rep = absorb_landing(spark, root, min_batches=1, incremental=True)
    assert rep["parent"] is not None and rep["committed"] is True

    full = read_table(spark, root)
    assert full.count() == 30
    by_lin = {
        r["_lineage"]: r["n"]
        for r in full.groupBy("_lineage").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_lin == {"legacy": 20, "runA": 10}
    # a lineage predicate across the mixed chain (parent lacks the col)
    got = read_table(spark, root, where=("_lineage", "==", "legacy"))
    assert got.count() == 20
    # the seed's bloom still serves point lookups through the chain
    assert [r["id"] for r in read_table(spark, root, where=("id", "==", 7)).collect()] == [7]
    live = read_ingest_table(spark, root, where=("_lineage", "==", "legacy"))
    assert live.count() == 20
    assert read_ingest_table(spark, root).count() == 30
    # a replay stays subtracted against the head ledger
    landing_append(spark.range(100, 110).toDF("id"), root, 0, lineage="runA")
    assert read_ingest_table(spark, root).count() == 30

    # every writer leaves only the on-disk forms the readers accept:
    # compaction (blooms inherited), a rewrite absorb, a pending batch
    compact_table(spark, root, target_file_bytes=1 << 30)
    landing_append(spark.range(200, 205).toDF("id"), root, 1, lineage="runA")
    absorb_landing(spark, root, min_batches=1)
    landing_append(spark.range(300, 305).toDF("id"), root, 2, lineage="runA")
    assert read_ingest_table(spark, root).count() == 40
    _assert_current_formats(root)


def _assert_current_formats(root: str) -> None:
    """Landing dirs are only ``_lineage=*/_batch_id=*``, every
    ``_ABSORBED`` ledger is a JSON object, every ``_MANIFEST`` is
    version 2 with ``types`` and ``dirs``, and the only bloom sidecar
    is ``_MANIFEST_BLOOM``."""
    import json
    import os

    def subdirs(path):
        return [n for n in os.listdir(path) if os.path.isdir(os.path.join(path, n))]

    landing = os.path.join(root, "landing")
    for lin in subdirs(landing):
        assert lin.startswith("_lineage="), lin
        for b in subdirs(os.path.join(landing, lin)):
            assert b.startswith("_batch_id="), b
    seen = set()
    for path, dirs, files in os.walk(root):
        assert all(
            d == "_MANIFEST_BLOOM" for d in dirs if d.startswith("_MANIFEST_BLOOM")
        ), dirs
        for name in {"_ABSORBED", "_MANIFEST"} & set(files):
            with open(os.path.join(path, name)) as fh:
                doc = json.load(fh)
            seen.add(name)
            if name == "_ABSORBED":
                assert isinstance(doc, dict), doc
            else:
                assert doc["version"] == 2 and "types" in doc and "dirs" in doc
    assert seen == {"_ABSORBED", "_MANIFEST"}


def test_read_ingest_table_where_prunes_generation_leg(spark, tmp_path):
    """read_ingest_table(where=) must equal the filtered live view
    exactly while opening only the generation files whose manifest
    spans may match — the landing leg (bounded by the absorb cadence)
    filters without pruning."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        absorb_landing,
        compact_table,
        current_table_path,
        landing_append,
        read_ingest_table,
    )

    root = str(tmp_path / "ingest_where")
    for b in range(4):
        landing_append(
            spark.range(b * 2500, b * 2500 + 2500).toDF("id"), root, b
        )
    absorb_landing(spark, root, min_batches=1)
    # re-cluster the generation on id so its file spans are prunable;
    # 4 KB target (not 8 KB): the engine writes zstd since r14, which
    # compresses this range data ~2x tighter than snappy — the old
    # target left only 3 files and the multi-file pruning setup below
    # needs at least 4
    compact_table(spark, root, target_file_bytes=4 << 10, cluster_cols=["id"])
    gen_files = len(
        spark.read.parquet(current_table_path(spark, root)).inputFiles()
    )
    assert gen_files >= 4
    # two landing batches arrive after the absorb
    landing_append(spark.range(10_000, 10_500).toDF("id"), root, 4)
    landing_append(spark.range(10_500, 10_600).toDF("id"), root, 5)

    where = [("id", ">=", 500), ("id", "<", 700)]
    pruned = read_ingest_table(spark, root, where=where)
    full = read_ingest_table(spark, root).filter(
        (F.col("id") >= 500) & (F.col("id") < 700)
    )
    assert pruned.count() == full.count() == 200
    assert (
        pruned.agg(F.sum("id")).first()[0] == full.agg(F.sum("id")).first()[0]
    )
    # files-opened contract: generation leg pruned (landing legs read
    # whole, then filtered — 2 pending batch files here)
    opened = pruned.select("id").inputFiles()
    gen_opened = [f for f in opened if "/landing/" not in f]
    assert 0 < len(gen_opened) < gen_files
    # a window living only in the landing tail still reads exactly
    live_only = read_ingest_table(spark, root, where=("id", ">=", 10_550))
    assert live_only.count() == 50
    # predicates on the lineage columns compose (physical in the
    # generation, partition-derived in landing)
    lin = read_ingest_table(
        spark, root, where=[("_batch_id", "==", 4), ("id", "<", 10_200)]
    )
    assert lin.count() == 200


def test_manifest_handles_special_partition_values(spark, tmp_path):
    """input_file_name() returns URL-encoded URIs; manifests must store
    the decodable on-disk path or pruned reads 404 on partition values
    with spaces/colons."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        read_table,
        write_table,
    )

    root = str(tmp_path / "tbl_special")
    df = spark.createDataFrame(
        [(i, ["pt BR", "en:US", "plain"][i % 3]) for i in range(30)],
        "id long, lang string",
    )
    write_table(df, root, partition_by=["lang"])
    for v in ("pt BR", "en:US", "plain"):
        got = read_table(spark, root, where=("lang", "==", v))
        assert got.count() == 10, v
        assert got.filter(F.col("lang") != v).count() == 0


def test_manifest_sidecar_handles_special_partition_values(
    spark, tmp_path, monkeypatch
):
    """The SIDECAR path derives relative paths in Spark (url_decode),
    which must match Python's unquote exactly — including '+' (form
    decoding would turn a literal '+' into a space and 404 the read)
    and percent-encoded spaces/colons."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators import layout
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        read_manifest,
        read_table,
        write_table,
    )

    monkeypatch.setattr(layout, "_MANIFEST_INLINE_MAX", 0)
    root = str(tmp_path / "tbl_special_shard")
    vals = ["pt BR", "en:US", "c++", "plain"]
    df = spark.createDataFrame(
        [(i, vals[i % 4]) for i in range(40)], "id long, lang string"
    )
    write_table(df, root, partition_by=["lang"])
    man = read_manifest(spark, root)
    assert "files" not in man and len(man["dirs"]) == 4
    for v in vals:
        got = read_table(spark, root, where=("lang", "==", v))
        assert got.count() == 10, v
        assert got.filter(F.col("lang") != v).count() == 0
        # conjunct forcing FILE-level sidecar pruning inside the dir
        mixed = read_table(
            spark, root, where=[("lang", "==", v), ("id", "<", 20)]
        )
        assert mixed.count() == 5, v


def test_manifest_footer_pins_scan_content(spark, tmp_path):
    """The footer-harvested manifest (r11: O(files) metadata reads, no
    second scan of the generation) is CONTENT-IDENTICAL to the
    scan-based builder on every exactly-representable span — all stat
    dtypes, hive-escaped partition values, an all-null column, nulls
    mixed in — on both the inline and the sidecar path."""
    import datetime as dt
    import decimal

    from pyspark.sql import types as T

    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        _write_manifest,
    )

    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("l", T.LongType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("dec", T.DecimalType(10, 2)),
            T.StructField("bigdec", T.DecimalType(38, 10)),
            T.StructField("s", T.StringType()),
            T.StructField("nul", T.StringType()),
            T.StructField("dt", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("tsn", T.TimestampNTZType()),
            T.StructField("b", T.BooleanType()),
            T.StructField("f", T.FloatType()),
            T.StructField("part", T.StringType()),
        ]
    )
    rows = [
        (
            k,
            10**12 + k,
            1.5 * k - 7,
            decimal.Decimal(k) - decimal.Decimal("0.07"),
            decimal.Decimal("123456789.0123456789") * k,
            f"doc-{k:03d}",
            None,
            dt.date(2020, 1, 1) + dt.timedelta(days=k),
            dt.datetime(2020, 1, 2, 3, 4, 5, 123456, tzinfo=dt.timezone.utc)
            + dt.timedelta(hours=k),
            dt.datetime(2021, 6, 7, 8, 9, 10, 654321) + dt.timedelta(minutes=k),
            k % 2 == 0,
            float(k) - 2.5,
            ["pt:BR", "a+b c", "plain"][k % 3],
        )
        for k in range(40)
    ] + [(None,) * 12 + ("pt:BR",)]
    root = str(tmp_path / "pin")
    df = spark.createDataFrame(rows, schema)
    df.repartition(4).write.partitionBy("part").parquet(f"{root}/data")

    m_scan = _write_manifest(
        spark, f"{root}/data", f"{root}/_M_scan", stats_source="scan"
    )
    m_foot = _write_manifest(
        spark, f"{root}/data", f"{root}/_M_foot", stats_source="footer"
    )
    assert m_foot == m_scan
    assert m_foot["total_rows"] == 41
    # every typed column produced a span on at least one file; the
    # all-null column produced none anywhere
    seen = {c for f in m_foot["files"] for c in f["stats"]}
    assert "nul" not in seen
    assert {"i", "l", "d", "dec", "bigdec", "s", "dt", "ts", "tsn", "b", "f", "part"} <= seen

    # sidecar path: same root JSON, same native-typed sidecar rows
    m_scan2 = _write_manifest(
        spark, f"{root}/data", f"{root}/_M2_scan", inline_max=0, stats_source="scan"
    )
    m_foot2 = _write_manifest(
        spark, f"{root}/data", f"{root}/_M2_foot", inline_max=0, stats_source="footer"
    )
    assert m_foot2 == m_scan2
    sc_s = spark.read.parquet(f"{root}/_M2_scan_FILES")
    sc_f = spark.read.parquet(f"{root}/_M2_foot_FILES")
    assert sc_s.schema == sc_f.schema
    assert sorted(map(tuple, sc_s.collect())) == sorted(map(tuple, sc_f.collect()))


def test_manifest_footer_distributed_path_matches_driver(spark, tmp_path, monkeypatch):
    """Above _FOOTER_DRIVER_MAX files the harvest distributes via
    mapInPandas; forcing the threshold to 0 must yield the identical
    manifest the driver-side shortcut builds."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators import layout

    root = str(tmp_path / "dist")
    df = spark.range(500).selectExpr("id", "id % 5 as grp", "cast(id as string) s")
    df.repartition(6).write.parquet(f"{root}/data")
    m_drv = layout._write_manifest(spark, f"{root}/data", f"{root}/_Md")
    monkeypatch.setattr(layout, "_FOOTER_DRIVER_MAX", 0)
    m_dist = layout._write_manifest(spark, f"{root}/data", f"{root}/_Mx")
    assert m_drv == m_dist


def test_manifest_footer_nan_is_conservative(spark, tmp_path):
    """A float column containing NaN gets NO footer span (parquet's
    NaN ordering is undefined, and Spark treats NaN as the largest
    double — a footer max below it could wrongly prune a `>` match);
    the pruned read keeps the file and still matches the full read."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        read_manifest,
        read_table,
        write_table,
    )

    root = str(tmp_path / "nan")
    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 2.0)], "id long, x double"
    )
    write_table(df.repartition(1), root)
    man = read_manifest(spark, root)
    assert all("x" not in f["stats"] for f in man["files"])
    assert all("id" in f["stats"] for f in man["files"])
    # NaN > 100.0 is TRUE in Spark ordering: the span-less file keeps
    got = read_table(spark, root, where=("x", ">", 100.0))
    assert [r["id"] for r in got.collect()] == [2]


def test_query_bound_aware_on_ntz_prunes_safely(spark, tmp_path):
    """ADVICE r10 (medium): a tz-AWARE predicate on a timestamp_ntz
    column under a non-UTC SESSION zone — the residual compare casts
    the ntz wall through the session zone while the manifest stores
    wall-as-UTC; the candidate-widened query bound must keep every
    file whose rows match the residual, so pruned == full."""
    import datetime as dt

    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        read_table,
        write_table,
    )

    root = str(tmp_path / "ntz_aware")
    base = dt.datetime(2023, 5, 1, 0, 0, 0)  # naive walls
    df = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=i)) for i in range(1_000)],
        "id long, tsn timestamp_ntz",
    )
    write_table(
        df.repartitionByRange(8, F.col("tsn")).sortWithinPartitions("tsn"),
        root,
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        # aware bounds whose Kolkata wall lands mid-range
        lo = dt.datetime(2023, 5, 1, 2, 0, tzinfo=dt.timezone.utc)
        hi = dt.datetime(2023, 5, 1, 5, 0, tzinfo=dt.timezone.utc)
        where = [("tsn", ">=", lo), ("tsn", "<", hi)]
        pruned = read_table(spark, root, where=where)
        full = read_table(spark, root).filter(
            (F.col("tsn") >= F.lit(lo)) & (F.col("tsn") < F.lit(hi))
        )
        full_rows = sorted(r["id"] for r in full.collect())
        assert sorted(r["id"] for r in pruned.collect()) == full_rows
        assert len(full_rows) > 0  # the window actually selects rows
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_pruned_read_schema_evolved_chain(spark, tmp_path):
    """ADVICE r10: a `where` naming a column a chain MEMBER lacks must
    not raise — the member's rows provably can't match (all prune ops
    are null-rejecting), so it contributes an empty frame and the
    filtered read over the evolved chain returns exactly the matching
    delta rows."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        read_table,
        write_table,
    )

    root = str(tmp_path / "evolved")
    parent = write_table(spark.range(10).toDF("id"), root)
    delta = spark.createDataFrame(
        [(100 + i, f"v{i}") for i in range(5)], "id long, tag string"
    )
    write_table(delta, root, parent=parent)
    # full read unions with nulls for the parent's missing column
    assert read_table(spark, root).count() == 15
    got = read_table(spark, root, where=("tag", "==", "v3"))
    rows = got.collect()
    assert [(r["id"], r["tag"]) for r in rows] == [(103, "v3")]
    # conjunct across both schemas: id exists everywhere, tag only in
    # the delta — parent still contributes nothing
    got2 = read_table(
        spark, root, where=[("id", ">=", 100), ("tag", ">=", "v0")]
    )
    assert got2.count() == 5


def test_ingest_lineage_special_chars_key_raw(spark, tmp_path):
    """ADVICE r10: lineage 'pt:BR' lands under the hive-ESCAPED dir
    '_lineage=pt%3ABR', but the _ABSORBED ledger and the pending map
    key the RAW string users filter the _lineage column on, and
    gc_landing sweeps the escaped dir under that raw key; raw '%' in a
    lineage is rejected (it would make the decoding ambiguous)."""
    import json

    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators import layout
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        absorb_landing,
        landing_append,
        read_ingest_table,
        read_table,
    )

    root = str(tmp_path / "ingest_sp")
    for b in range(2):
        landing_append(
            spark.range(b * 10, b * 10 + 10).toDF("id"), root, b, lineage="pt:BR"
        )
    # pending map keys the raw lineage
    assert {k[0] for k in layout._landing_batch_dirs(spark, root)} == {"pt:BR"}
    assert read_ingest_table(spark, root).count() == 20
    absorb_landing(spark, root, min_batches=1)
    gen = layout._resolve_table_generation(spark, root)
    ledger = json.loads(fsutil.read_text(spark, f"{gen}/_ABSORBED"))
    assert list(ledger) == ["pt:BR"]
    # replay of an absorbed batch stays subtracted under the raw key
    landing_append(spark.range(0, 10).toDF("id"), root, 0, lineage="pt:BR")
    assert read_ingest_table(spark, root).count() == 20
    assert (
        read_table(spark, root).filter(F.col("_lineage") == "pt:BR").count()
        == 20
    )

    # the replayed (absorbed) partition sweeps under its raw lineage
    swept = layout.gc_landing(spark, root, max_age_ms=0, now_ms=2**62)
    assert swept == ["_lineage=pt%3ABR/_batch_id=0"]
    assert read_ingest_table(spark, root).count() == 20

    with pytest.raises(ValueError, match="lineage"):
        landing_append(spark.range(1).toDF("id"), root, 9, lineage="a%3Ab")


def test_read_ingest_table_where_prunes_landing_leg(spark, tmp_path):
    """VERDICT r10 #5: landing_append writes a per-batch _MANIFEST
    (footer harvest — batch-sized), and a selective live read opens
    ONLY the landing batches whose spans may match — a slow-absorb
    deployment no longer reads every landing file on every selective
    query. A batch with a missing manifest (crash window / old writer)
    falls back to a whole-dir read; results always equal the filtered
    unpruned view."""
    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        landing_append,
        read_ingest_table,
    )

    root = str(tmp_path / "ingest_land_prune")
    # no generation at all: the landing tail IS the table
    for b in range(4):
        landing_append(
            spark.range(b * 1000, b * 1000 + 1000).toDF("id").repartition(2),
            root,
            b,
        )
    # each batch dir carries its manifest
    for b in range(4):
        assert fsutil.exists(
            spark, f"{root}/landing/_lineage=default/_batch_id={b}/_MANIFEST"
        )

    where = [("id", ">=", 1200), ("id", "<", 1400)]
    pruned = read_ingest_table(spark, root, where=where)
    full = read_ingest_table(spark, root).filter(
        (F.col("id") >= 1200) & (F.col("id") < 1400)
    )
    assert pruned.count() == full.count() == 200
    opened = pruned.select("id").inputFiles()
    assert opened and all("_batch_id=1" in f for f in opened)

    # a replay overwrite refreshes the manifest with it (dynamic
    # overwrite clears the partition dir, manifest included)
    landing_append(
        spark.range(1000, 2000).toDF("id").repartition(2), root, 1
    )
    assert read_ingest_table(spark, root, where=where).count() == 200

    # crash window: manifest missing -> that batch reads whole, others
    # still prune, results unchanged
    fsutil.delete(spark, f"{root}/landing/_lineage=default/_batch_id=2/_MANIFEST")
    pruned2 = read_ingest_table(spark, root, where=where)
    assert pruned2.count() == 200
    opened2 = pruned2.select("id").inputFiles()
    assert any("_batch_id=1" in f for f in opened2)
    assert any("_batch_id=2" in f for f in opened2)  # fallback: whole dir
    assert not any("_batch_id=3" in f for f in opened2)

    # a window matching NO batch returns empty without error
    assert read_ingest_table(spark, root, where=("id", ">=", 99_000)).count() == 0

    # manifest=False opts out (no manifest written, reads still work)
    landing_append(spark.range(4000, 4100).toDF("id"), root, 4, manifest=False)
    assert not fsutil.exists(
        spark, f"{root}/landing/_lineage=default/_batch_id=4/_MANIFEST"
    )
    assert read_ingest_table(spark, root).count() == 4100
