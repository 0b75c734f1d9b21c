"""Manifest bloom filters: point-lookup file skipping on
high-cardinality columns where min/max spans are useless.

Contracts pinned here:
- NO FALSE NEGATIVES ever: a pruned read finds every present value
  (bloom exclusion is provable absence, residual filter decides rows).
- Files-opened: a point lookup on a bloomed scattered column opens
  far fewer files than the span-only prune (which keeps ~all of them).
- Conservative fallbacks: non-canonicalizable values, missing sidecar,
  un-bloomed columns, and bloom-less manifests all keep files.
- Python/JVM hash parity: the executor-built bitset and the
  driver-computed word masks agree byte-for-byte.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data___knowledge_graph_construction_with_llm_spark.operators import (
    layout,
)
from big_data___knowledge_graph_construction_with_llm_spark import fsutil

N_FILES = 16


def _write(spark, root, n=2000, bloom_cols=None, partition_by=None, **kw):
    """A table whose `key` (md5 string) and `scr` (scrambled int)
    columns scatter across files — every file's span covers nearly the
    whole domain, so span pruning keeps ~all files and any skipping is
    the bloom's doing. Ids stay range-clustered (file layout is
    deterministic)."""
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            F.md5(F.col("id").cast("string")).alias("key"),
            ((F.col("id") * 2654435761) % 2147483647).alias("scr"),
            F.unhex(F.md5(F.concat(F.lit("b"), F.col("id")))).alias("blob"),
            (F.col("id") % 3).alias("bucket"),
        )
        .repartitionByRange(N_FILES, "id")
    )
    return df, layout.write_table(
        df, root, bloom_cols=bloom_cols, partition_by=partition_by, **kw
    )


def _key_of(spark, root, doc_id):
    return (
        layout.read_table(spark, root)
        .filter(F.col("id") == doc_id)
        .select("key", "scr", "blob")
        .collect()[0]
    )


def test_bloom_point_lookup_skips_files_vs_span_only(spark, tmp_path):
    root = f"{tmp_path}/t"
    _write(spark, root, bloom_cols=None)
    want = _key_of(spark, root, 1234)

    # span-only: the md5 key scatters, so every file's span covers the
    # probe value — the prune keeps (essentially) everything
    before = layout.read_table(spark, root, where=("key", "==", want["key"]))
    assert len(before.select("id").inputFiles()) >= N_FILES - 3
    assert before.count() == 1

    # the same table written with a bloom on the key
    bloomed = f"{tmp_path}/b"
    _write(spark, bloomed, bloom_cols=["key"], bloom_fpp=0.001)
    blooms = layout.read_manifest(spark, bloomed)["blooms"]
    assert blooms["key"]["dtype"] == "string"
    after = layout.read_table(spark, bloomed, where=("key", "==", want["key"]))
    assert len(after.select("id").inputFiles()) <= 3
    assert [r["id"] for r in after.collect()] == [1234]


def test_bloom_miss_opens_nothing(spark, tmp_path):
    root = f"{tmp_path}/t"
    _write(spark, root, bloom_cols=["key"], bloom_fpp=0.001)
    got = layout.read_table(
        spark, root, where=("key", "==", "no-such-fingerprint")
    )
    assert got.count() == 0
    assert got.columns == ["id", "key", "scr", "blob", "bucket"]
    # the PLAN is provably-empty: zero dirs, zero files survive
    man = layout.read_manifest(spark, root)
    gen = layout._resolve_table_generation(spark, root)
    plan = layout._prune_plan(
        spark, man, ("key", "==", "no-such-fingerprint"), gen
    )
    assert plan["dirs"] == [] and plan["files"] == []


def test_bloom_int_and_in_list(spark, tmp_path):
    root = f"{tmp_path}/t"
    df, _ = _write(spark, root, bloom_cols=["scr"], bloom_fpp=0.001)
    v1 = _key_of(spark, root, 7)["scr"]
    v2 = _key_of(spark, root, 1900)["scr"]
    got = layout.read_table(
        spark, root, where=("scr", "in", [v1, v2, 999_999_937])
    )
    assert sorted(r["id"] for r in got.collect()) == [7, 1900]
    # two present values live in two (id-range) files; the miss adds
    # nothing beyond bloom false positives
    assert len(got.select("id").inputFiles()) <= 4
    full = (
        layout.read_table(spark, root)
        .filter(F.col("scr").isin([v1, v2, 999_999_937]))
        .collect()
    )
    assert sorted(r["id"] for r in full) == [7, 1900]


def test_bloom_binary_column(spark, tmp_path):
    root = f"{tmp_path}/t"
    _write(spark, root, bloom_cols=["blob"], bloom_fpp=0.001)
    want = bytes(_key_of(spark, root, 321)["blob"])
    got = layout.read_table(spark, root, where=("blob", "==", want))
    assert [r["id"] for r in got.collect()] == [321]
    assert len(got.select("id").inputFiles()) <= 3
    miss = layout.read_table(spark, root, where=("blob", "==", b"\x00" * 16))
    assert miss.count() == 0


def test_bloom_no_false_negatives_sampled(spark, tmp_path):
    """THE correctness property: every present value is found through
    the pruned read — bloom membership can never exclude a file that
    holds the value (Python build / driver masks hash identically)."""
    root = f"{tmp_path}/t"
    _write(spark, root, n=997, bloom_cols=["key", "scr"], bloom_fpp=0.01)
    rows = (
        layout.read_table(spark, root)
        .filter(F.col("id") % 53 == 0)
        .collect()
    )
    assert rows
    for r in rows:
        hit = layout.read_table(spark, root, where=("key", "==", r["key"]))
        assert [x["id"] for x in hit.collect()] == [r["id"]]
        hit2 = layout.read_table(spark, root, where=("scr", "==", r["scr"]))
        assert r["id"] in [x["id"] for x in hit2.collect()]


def test_bloom_conservative_on_noncanonical_values(spark, tmp_path):
    root = f"{tmp_path}/t"
    _write(spark, root, bloom_cols=["scr", "key"], bloom_fpp=0.001)
    man = layout.read_manifest(spark, root)
    # a float probe on the int column: 7.5 can't be an int match for
    # the bloom, but 7.0 CAN match rows — the pred must skip blooming
    assert layout._bloom_pred_masks([("scr", "==", 7.5)], man) == []
    assert layout._bloom_pred_masks([("scr", "==", True)], man) == []
    assert layout._bloom_pred_masks([("key", "==", 12)], man) == []
    # one bad value poisons the whole IN list
    assert layout._bloom_pred_masks([("scr", "in", [7, 7.5])], man) == []
    # float-typed exact int IS canonical (7.0 == 7)
    assert layout._bloom_pred_masks([("scr", "in", [7, 8.0])], man) != []
    # rows still come back right through the conservative path: a
    # mid-range non-integral probe sits inside (almost) every file's
    # span, and the bloom must NOT touch it — so ~everything opens
    mid = float(_key_of(spark, root, 1000)["scr"]) + 0.5
    got = layout.read_table(spark, root, where=("scr", "==", mid))
    assert got.count() == 0
    assert len(got.select("id").inputFiles()) >= N_FILES - 3


def test_bloom_missing_sidecar_keeps_all(spark, tmp_path):
    root = f"{tmp_path}/t"
    _write(spark, root, bloom_cols=["key"], bloom_fpp=0.001)
    want = _key_of(spark, root, 55)["key"]
    gen = layout._resolve_table_generation(spark, root)
    assert fsutil.delete(spark, f"{gen}/{layout._BLOOM_TABLE}")
    got = layout.read_table(spark, root, where=("key", "==", want))
    assert got.count() == 1  # conservative: nothing pruned, no error
    assert len(got.select("id").inputFiles()) >= N_FILES - 3


def test_bloom_sharded_manifest_path(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(layout, "_MANIFEST_INLINE_MAX", 4)
    root = f"{tmp_path}/t"
    _write(spark, root, bloom_cols=["key"], bloom_fpp=0.001)
    man = layout.read_manifest(spark, root)
    assert "files_table" in man and "blooms" in man
    want = _key_of(spark, root, 444)["key"]
    got = layout.read_table(spark, root, where=("key", "==", want))
    assert [r["id"] for r in got.collect()] == [444]
    assert len(got.select("id").inputFiles()) <= 3
    miss = layout.read_table(spark, root, where=("key", "==", "zzz-none"))
    assert miss.count() == 0
    gen = layout._resolve_table_generation(spark, root)
    plan = layout._prune_plan(spark, man, ("key", "==", "zzz-none"), gen)
    assert plan["dirs"] == [] and plan["files"] == []


def test_bloom_partitioned_table(spark, tmp_path):
    root = f"{tmp_path}/t"
    df = (
        spark.range(600)
        .select(
            F.col("id"),
            F.md5(F.col("id").cast("string")).alias("key"),
            (F.col("id") % 3).alias("bucket"),
        )
        .repartition(4, "id")
    )
    layout.write_table(
        df, root, partition_by=["bucket"], bloom_cols=["key"], bloom_fpp=0.001
    )
    want = df.filter(F.col("id") == 99).collect()[0]["key"]
    got = layout.read_table(spark, root, where=("key", "==", want))
    assert [r["id"] for r in got.collect()] == [99]
    opened = got.select("id").inputFiles()
    assert 0 < len(opened) <= 3
    assert all("bucket=0" in f for f in opened)  # 99 % 3 == 0


def test_compact_inherits_blooms(spark, tmp_path):
    root = f"{tmp_path}/t"
    _write(spark, root, bloom_cols=["key"], bloom_fpp=0.001)
    rep = layout.compact_table(spark, root, target_file_bytes=1 << 30)
    assert rep["committed"]
    man = layout.read_manifest(spark, root)
    assert set(man["blooms"]) == {"key"}
    assert man["blooms"]["key"]["fpp"] == 0.001
    want = _key_of(spark, root, 777)["key"]
    got = layout.read_table(spark, root, where=("key", "==", want))
    assert [r["id"] for r in got.collect()] == [777]
    # the rewrite packed everything into one file; the contract is the
    # lookup still resolves through the REBUILT bloom
    assert len(got.select("id").inputFiles()) <= 2
    # and an explicit None drops them
    rep2 = layout.compact_table(
        spark, root, target_file_bytes=1 << 30, bloom_cols=None
    )
    assert rep2["committed"]
    assert "blooms" not in (layout.read_manifest(spark, root) or {})


def test_bloom_rejects_unbloomable_types(spark, tmp_path):
    root = f"{tmp_path}/t"
    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 1.5).alias("score")
    )
    with pytest.raises(ValueError, match="integral/string/binary"):
        layout.write_table(df, root, bloom_cols=["score"])
    with pytest.raises(ValueError, match="manifest=True"):
        layout.write_table(df, root, manifest=False, bloom_cols=["id"])


def test_bloom_masks_python_jvm_parity(spark):
    """The sidecar test expression evaluates the SAME membership the
    Python builder wrote: craft a bitset in Python, evaluate the
    word-mask condition in the JVM, compare against the local answer
    for hits and misses."""
    m, k = layout._bloom_sizing(500, 0.01)
    vals = [f"v{i}" for i in range(300)]
    bits = [0] * (m // 64)
    for v in vals:
        for p in layout._bloom_positions(v.encode(), m, k):
            bits[p // 64] |= 1 << p % 64
    signed = [layout._to_i64(w) for w in bits]
    df = spark.createDataFrame(
        [("", "f", "c", signed)],
        "dir string, file string, col string, bits array<bigint>",
    )
    probes = vals[:25] + [f"miss{i}" for i in range(200)]
    fails = set()
    for probe in probes:
        masks = [layout._bloom_word_masks(probe.encode(), m, k)]
        if df.filter(layout._bloom_fail_cond("c", masks)).count():
            fails.add(probe)
    assert not fails & set(vals)  # no false negative, ever
    # misses overwhelmingly fail (fpp 1%: expect ~2 of 200 stragglers)
    assert len(fails) >= 190


def test_bloom_cols_write_parquet_native_blooms(spark, tmp_path):
    """write_table(bloom_cols=) also turns on parquet-NATIVE blooms
    (adaptive-sized) so pushed equality filters row-group-skip inside
    opened files — provable by the data bytes growing vs the same
    frame written without blooms."""
    df = spark.range(5000).select(
        F.md5(F.col("id").cast("string")).alias("key"), F.col("id")
    ).coalesce(1)
    layout.write_table(df, f"{tmp_path}/plain")
    layout.write_table(df, f"{tmp_path}/bloomed", bloom_cols=["key"])

    def data_bytes(root):
        gen = layout._resolve_table_generation(spark, root)
        return sum(
            sz for _, sz in fsutil.list_files(spark, f"{gen}/data")
        )

    plain, bloomed = data_bytes(f"{tmp_path}/plain"), data_bytes(
        f"{tmp_path}/bloomed"
    )
    # adaptive native bloom: tens of KB at 5k distinct, never the 1 MB
    # default — present but bounded
    assert plain + 10_000 < bloomed < plain + 500_000
    # compact_table(bloom_cols="inherit") keeps them on the rewrite
    layout.compact_table(
        spark, f"{tmp_path}/bloomed", target_file_bytes=1 << 30
    )
    assert data_bytes(f"{tmp_path}/bloomed") > plain + 10_000


def test_bloom_bigint_beyond_2_53_with_nulls_no_false_negative(
    spark, tmp_path
):
    """ADVICE r11 (high): an int64 column holding ANY null crosses
    into pandas as float64, which rounds magnitudes above 2^53 — the
    old builder hashed the MANGLED value, so the bitset lacked the
    true value's bits and a point lookup provably-excluded the file
    that held it (silent missing rows). Build values are all odd and
    above 2^62 (no odd integer there is float64-representable), with a
    null in every file to force the coercion; the canonical JVM-side
    cast must keep every lookup exact."""
    root = f"{tmp_path}/big"
    df = (
        spark.range(2000)
        .select(
            F.col("id"),
            F.when(
                F.col("id") % 125 == 0, F.lit(None).cast("long")
            )
            .otherwise(
                F.lit(1 << 62) + F.col("id") * 2 + F.lit(1)
            )
            .alias("fp64"),
        )
        .repartitionByRange(N_FILES, "id")
    )
    layout.write_table(df, root, bloom_cols=["fp64"], bloom_fpp=0.001)
    man = layout.read_manifest(spark, root)
    assert man["blooms"]["fp64"]["dtype"] == "bigint"
    for doc_id in (1, 777, 1999):
        want = (1 << 62) + doc_id * 2 + 1
        got = layout.read_table(spark, root, where=("fp64", "==", want))
        assert [r["id"] for r in got.collect()] == [doc_id]
        assert len(got.select("id").inputFiles()) <= 3
    # build/probe byte parity, asserted against the raw sidecar: every
    # word mask of the canonical value is set in its file's bitset
    gen = layout._resolve_table_generation(spark, root)
    ent = man["blooms"]["fp64"]
    side = {
        r["file"]: r["bits"]
        for r in spark.read.parquet(f"{gen}/{layout._BLOOM_TABLE}").collect()
    }
    f1999 = (
        layout.read_table(spark, root)
        .filter(F.col("id") == 1999)
        .select(F.input_file_name().alias("f"))
        .collect()[0]["f"]
    )
    rel = "/".join(f1999.split("/")[-1:])
    bits = side[rel]
    masks = layout._bloom_word_masks(
        layout._bloom_bytes((1 << 62) + 1999 * 2 + 1, "bigint"),
        ent["m"],
        ent["k"],
    )
    for w, mask in masks.items():
        assert bits[w] & mask == mask
    # the null rows themselves: IS NULL predicates are span/bloom
    # no-ops, the residual filter answers
    nulls = layout.read_table(spark, root).filter(F.col("fp64").isNull())
    assert nulls.count() == 16


def test_open_table_handle_parity_and_reuse(spark, tmp_path):
    """open_table serves repeated point lookups from cached state with
    answers identical to read_table — across blooms, tombstones, and a
    delta chain — and measurably fewer per-call steps (the bloom
    sidecar is Spark-cached after the first probe)."""
    import time

    root = f"{tmp_path}/served"
    df, _ = _write(spark, root, bloom_cols=["key"], bloom_fpp=0.001)
    layout.delete_from_table(spark, root, "id", keys=[7])
    h = layout.open_table(spark, root)
    probes = [1234, 7, 999, 42]
    for doc_id in probes:
        want = (
            layout.read_table(spark, root)
            .filter(F.col("id") == doc_id)
            .collect()
        )
        key = want[0]["key"] if want else None
        if key is None:
            # deleted id: probe its (still known) key via the source df
            key = df.filter(F.col("id") == doc_id).collect()[0]["key"]
        got = h.read(where=("key", "==", key)).collect()
        ref = layout.read_table(spark, root, where=("key", "==", key)).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, ref))
        if doc_id == 7:
            assert got == []  # tombstone honored through the handle
    # the handle is a snapshot: a delete AFTER open is not visible
    victim = df.filter(F.col("id") == 1234).collect()[0]["key"]
    layout.delete_from_table(spark, root, "id", keys=[1234])
    assert len(h.read(where=("key", "==", victim)).collect()) == 1
    assert layout.read_table(spark, root, where=("key", "==", victim)).count() == 0
    # re-open advances; close releases the cached sidecars
    h.close()
    h2 = layout.open_table(spark, root)
    assert h2.read(where=("key", "==", victim)).count() == 0
    # warm handle lookups beat cold read_table on wall (loose 2x bound:
    # the cached path skips marker/manifest/sidecar re-reads)
    k2 = df.filter(F.col("id") == 100).collect()[0]["key"]
    h2.read(where=("key", "==", k2)).collect()  # warm the sidecar cache
    t0 = time.perf_counter()
    for _ in range(3):
        h2.read(where=("key", "==", k2)).collect()
    warm = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(3):
        layout.read_table(spark, root, where=("key", "==", k2)).collect()
    cold = time.perf_counter() - t0
    assert warm < cold
