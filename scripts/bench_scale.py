"""Scale stress study: the heaviest pipelines at sf0.1 vs the 10x sf1
dataset — plus 30x and 100x tiers, the composed curation/encode flows,
and a skew-join experiment (see ``make_scale_data.py``), measuring
what the "survives 100x" design arguments predict — near-linear wall
time, shuffle volume proportional to rows (never to pairs), and flat
driver memory.

Writes BENCH_SCALE.json at the repo root:

    {"base": {...}, "scaled": {...}, "ratio": {...},
     "scaled30": {...}, "ratio30": {...},
     "scaled100": {...}, "ratio100": {...}, "skew_join": {...},
     "driver": {...}, "copies": N}

- base/scaled/ratio: the heavy REGISTRY pipelines plus the composed
  flows a 100 TB user actually runs end-to-end — ``curate`` /
  ``curate_with_stats`` (gates → exact dedup → near-dedup →
  decontaminate → split, stage-materialized) and ``encode_pack``
  (build_vocab → encode_documents → pack_sequences with the
  >1024-prefix-partition broadcast fallback exercised at BOTH tiers).
- scaled30 / scaled100: second and third decades on the three cheapest
  heavy pipelines (1x→10x→100x is two full decades of rows on the SAME
  code path), with the post-clean driver-residual probe repeated at
  the top of each tier — the flat-driver claim is checked against a
  100x spread, not extrapolated from one doubling.
- skew_join: plain-vs-salted wall on a REAL Zipf-skewed key from the
  scale corpus (token → vocab-id join over exploded document tokens),
  with broadcast disabled so the measurement reflects the
  too-big-to-broadcast dimension case salting exists for, both with
  AQE's skew splitter off (isolating the manual tool) and on.

One-off evidence artifact; NOT part of the driver's timed gate (the
driver's bench stays bench.py at sf0.1). Usage:

    python scripts/make_scale_data.py          # once (10x)
    python scripts/make_scale_data.py /root/testdata/sf0.1 \\
        .scale/sf3 30 10000 10000 100000     # once (30x)
    python scripts/make_scale_data.py /root/testdata/sf0.1 \\
        .scale/sf10 100 10000 10000 50000    # once (100x, no embeddings)
    python scripts/bench_scale.py
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from big_data___knowledge_graph_construction_with_llm_spark.metrics import MetricsCollector  # noqa: E402
from big_data___knowledge_graph_construction_with_llm_spark.session import get_spark  # noqa: E402

HEAVY = [
    "q_decontaminate",
    "q_dedup_exact",
    "q_minhash_dedup",
    "q_simhash_dedup",
    "q_connected_components",
    "q_cosine_sim",
    "q_token_count",   # heavy since r5: repeated-span detection + excision
]

#: the 30x tier re-runs only the three cheapest heavy pipelines (the
#: point is the second scaling decade, not a 30x bill for every query)
HEAVY30 = ["q_dedup_exact", "q_simhash_dedup", "q_connected_components"]


def _curate_fn(with_stats: bool):
    def run(spark, sf_dir):
        from big_data___knowledge_graph_construction_with_llm_spark.operators.curation import (
            curate,
            curate_with_stats,
        )
        from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load

        docs = load(spark, sf_dir, "documents")
        bench = docs.filter("doc_id % 50 = 0").select("doc_id", "text")
        if with_stats:
            kept, _stats = curate_with_stats(docs, benchmark=bench)
            return kept
        return curate(docs, benchmark=bench)

    return run


def _encode_pack_fn(spark, sf_dir):
    """build_vocab → encode_documents → pack_sequences, with
    prefix_partitions=2048 so the >1024 broadcast-offsets fallback (the
    constant that matters at scale) is on at every tier."""
    from pyspark.sql import functions as F

    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import pack_sequences
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        build_vocab,
        encode_documents,
    )
    from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load

    docs = load(spark, sf_dir, "documents")
    vocab = build_vocab(docs, max_size=50_000)
    enc = encode_documents(docs, vocab).withColumn(
        "n_tokens", F.size("token_ids").cast("long")
    )
    return pack_sequences(
        enc, "doc_id", "n_tokens", budget=4096, prefix_partitions=2048
    )


#: composed training-data flows measured alongside the registry queries
EXTRA = {
    "curate": _curate_fn(False),
    "curate_with_stats": _curate_fn(True),
    "encode_pack": _encode_pack_fn,
}


def _heap_probe(spark) -> dict:
    """Post-GC live-heap snapshot WITH attribution counters. Under
    local[n] one JVM holds the driver AND all executor state, so the raw
    live heap alone cannot distinguish "driver structures grew" (bad at
    100x) from "executor block/broadcast/shuffle residue grew" (expected
    — a real cluster spreads it over executors). The counters split it:

    - ``block_store_mb``: BlockManager MemoryStore bytes — broadcast
      pieces + cached blocks, i.e. EXECUTOR-side storage memory.
    - ``shuffle_statuses``: MapOutputTrackerMaster's retained shuffle
      map-status count — per-shuffle metadata the ContextCleaner drops
      when a shuffle becomes unreferenced; a monotone-growing number
      here would mean unbounded driver bookkeeping.
    """
    sc = spark.sparkContext
    jvm = sc._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    env = sc._jsc.sc().env()
    return {
        "live_heap_mb": int((rt.totalMemory() - rt.freeMemory()) / (1 << 20)),
        "block_store_mb": round(
            env.blockManager().memoryStore().memoryUsed() / (1 << 20), 1
        ),
        "shuffle_statuses": int(env.mapOutputTracker().shuffleStatuses().size()),
    }


def _drop_session_state(spark) -> None:
    """Release executor-visible session state so the next probe reads
    the RESIDUAL (true driver structures): clear the SQL cache, then run
    paired Python+JVM GC cycles with settle time. Within each cycle the
    Python ``gc.collect()`` comes BEFORE the JVM GC — the localCheckpoint
    lineage cuts leave py4j RDD handles in Python reference cycles, and
    until Python collects them the JVM cleaner sees live references and
    the blocks pin the MemoryStore; once released, unreferenced RDD
    blocks, broadcasts and shuffles drain off the ContextCleaner's
    reference queue."""
    import gc

    spark.catalog.clearCache()
    jvm = spark.sparkContext._jvm
    for _ in range(3):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(1.5)


def run_suite(spark, sf_dir: str, repeats: int = 2, names: list[str] | None = None) -> dict:
    """Per-query MIN over ``repeats`` passes — the suite swings tens of
    percent run-to-run on a busy host, and the scaling ratio needs the
    compute cost, not the noise floor. Shuffle/input are deterministic
    (taken from the last pass). ``names`` defaults to HEAVY + EXTRA;
    EXTRA names resolve to the composed-flow runners."""
    queries = entry_mod.queries()
    mc = MetricsCollector(spark)
    out: dict[str, dict] = {}
    if names is None:
        names = HEAVY + list(EXTRA)
    for _ in range(repeats):
        for name in names:
            fn = EXTRA.get(name) or queries[name]
            mc.start()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = round(time.perf_counter() - t0, 2)
            rec = mc.finish(name)
            prev = out.get(name)
            out[name] = {
                "wall_s": min(wall, prev["wall_s"]) if prev else wall,
                "shuffle_read_mb": round(rec["shuffle_read_bytes"] / (1 << 20), 2),
                "input_mb": round(rec["input_bytes"] / (1 << 20), 2),
            }
    return out


def skew_join_experiment(spark, sf_dir: str) -> dict:
    """Plain vs salted join on a real Zipf-skewed key from the scale
    corpus: every (token, doc_id) occurrence of the documents table
    joined against the bounded vocabulary — the encode join, measured
    for the case the dimension is too big to broadcast (threshold
    disabled). Variants:

    - ``plain_smj``: sort-merge join, AQE skew splitting OFF — the hot
      'the'/'la' partitions land on single tasks.
    - ``salted_smj``: ``salted_join(num_salts=8)``, same confs — the
      manual skew tool under test.
    - ``plain_aqe``: AQE skew splitting back ON — what the session
      default already buys, the bar the manual tool must be judged
      against.

    Also records the hot key's share so the skew is documented, not
    assumed.
    """
    from pyspark.sql import functions as F

    from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import salted_join
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import build_vocab, tokens
    from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load

    docs = load(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    ).filter(F.col("token") != "")
    occ = occ.localCheckpoint()  # pin the input so each variant starts equal
    vocab = build_vocab(docs, max_size=50_000).localCheckpoint()
    # pathological variant: collapse the key to the token's first char —
    # ~30 key values over the same rows, the hot letter carrying a
    # double-digit share, every key pinned to ONE reduce task in a plain
    # shuffle join (the shape a bad natural key takes at 100 TB)
    occ1 = occ.select("doc_id", F.substring("token", 1, 1).alias("token")).localCheckpoint()
    vocab1 = (
        vocab.select(F.substring("token", 1, 1).alias("token"))
        .distinct()
        .withColumn("token_id", F.ascii("token"))
        .localCheckpoint()
    )

    n = occ.count()

    def scenario(left, right, tag_meta):
        top = left.groupBy("token").count().orderBy(F.desc("count")).first()
        res = {
            "rows": n,
            "n_keys": left.select("token").distinct().count(),
            "hot_key": top["token"],
            "hot_share": round(top["count"] / n, 4),
            "num_salts": 8,
            **tag_meta,
        }

        def timed(tag, fn):
            t0 = time.perf_counter()
            fn().select(
                F.count("*").alias("n"), F.sum("token_id").alias("s")
            ).write.format("noop").mode("overwrite").save()
            res[tag + "_wall_s"] = round(time.perf_counter() - t0, 2)

        conf = spark.conf
        prev_bcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
        prev_skew = conf.get("spark.sql.adaptive.skewJoin.enabled")
        try:
            conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
            timed("plain_smj", lambda: left.join(right, "token"))
            timed("salted_smj", lambda: salted_join(left, right, "token", num_salts=8))
            conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
            timed("plain_aqe", lambda: left.join(right, "token"))
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
            conf.set("spark.sql.adaptive.skewJoin.enabled", prev_skew)
        return res

    from big_data___knowledge_graph_construction_with_llm_spark.materialize import release

    try:
        return {
            "zipf_token": scenario(occ, vocab, {"note": "natural token key"}),
            "first_char": scenario(
                occ1, vocab1, {"note": "pathological low-cardinality key"}
            ),
        }
    finally:
        for df in (occ, vocab, occ1, vocab1):
            release(df)


def layout_experiment(spark, sf_dir: str) -> dict:
    """At-rest layout vs scan cost on the bench corpus (lineitem):
    the same ~2%-selective filter measured as SCAN-DECODED ROWS
    (``operators.layout.decoded_scan_rows`` — what parquet row-group
    pruning actually let through) against three layouts of the same
    rows:

    - ``arrival``: written in natural order — every row group spans
      the whole ``l_partkey`` domain, nothing can skip;
    - ``clustered``: ``write_clustered`` on ``l_partkey``;
    - ``zorder``: ``with_zorder`` on (``l_partkey``, ``l_suppkey``) —
      the second filter column must ALSO skip, which the single-column
      cluster cannot serve;
    - ``zorder_string``: the same contract on a STRING column
      (key-minted ``item-%08d`` names, z-ordered with ``l_suppkey``
      through the order-preserving prefix key) — footer min/max on the
      string column itself must skip a string-range filter.

    Plus one marker-last :func:`compact_table` generation rewrite
    (64 shards → target-sized) with before/after file counts and
    wall. All writes go to a scratch dir and are deleted;
    decoded-rows ratios are scale-free, so the sf0.1 measurement is
    the design evidence, re-checked every bench run.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        clustering_stats,
        decoded_scan_rows,
        with_zorder,
        write_clustered,
    )
    from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load

    li = load(spark, sf_dir, "lineitem")
    scratch = tempfile.mkdtemp(prefix="layout_bench_")
    try:
        arrival = f"{scratch}/arrival"
        clustered = f"{scratch}/clustered"
        zpath = f"{scratch}/zorder"
        li.repartition(16).write.parquet(arrival)
        write_clustered(spark.read.parquet(arrival), clustered, ["l_partkey"], n_files=16)
        t0 = time.perf_counter()
        zdf = with_zorder(spark.read.parquet(arrival), ["l_partkey", "l_suppkey"], bits=6)
        write_clustered(zdf, zpath, ["_zkey"], n_files=16)
        zorder_write_s = round(time.perf_counter() - t0, 2)

        hi = li.agg(F.max("l_partkey")).first()[0]
        lo_p, hi_p = int(hi * 0.40), int(hi * 0.42)
        pred_part = (F.col("l_partkey") >= lo_p) & (F.col("l_partkey") < hi_p)
        hs = li.agg(F.max("l_suppkey")).first()[0]
        pred_supp = (F.col("l_suppkey") >= int(hs * 0.40)) & (
            F.col("l_suppkey") < int(hs * 0.42)
        )

        n = li.count()
        res = {
            "rows": n,
            "selectivity": round(
                spark.read.parquet(arrival).filter(pred_part).count() / n, 4
            ),
            "decoded_partkey": {
                "arrival": decoded_scan_rows(
                    spark.read.parquet(arrival).filter(pred_part)
                ),
                "clustered": decoded_scan_rows(
                    spark.read.parquet(clustered).filter(pred_part)
                ),
                "zorder": decoded_scan_rows(
                    spark.read.parquet(zpath).filter(pred_part)
                ),
            },
            "decoded_suppkey": {
                "clustered": decoded_scan_rows(
                    spark.read.parquet(clustered).filter(pred_supp)
                ),
                "zorder": decoded_scan_rows(
                    spark.read.parquet(zpath).filter(pred_supp)
                ),
            },
            "overlap_fraction": {
                "arrival": clustering_stats(arrival, "l_partkey")[
                    "overlap_fraction"
                ],
                "clustered": clustering_stats(clustered, "l_partkey")[
                    "overlap_fraction"
                ],
            },
            "zorder_write_s": zorder_write_s,
        }

        # string-column z-order: same skip contract through the
        # order-preserving prefix key, measured on a string-range
        # filter against the string column's own footer stats
        named = li.withColumn(
            "item_name", F.format_string("item-%08d", F.col("l_partkey"))
        )
        s_arrival = f"{scratch}/s_arrival"
        s_zpath = f"{scratch}/s_zorder"
        named.repartition(16).write.parquet(s_arrival)
        szdf = with_zorder(
            spark.read.parquet(s_arrival), ["item_name", "l_suppkey"], bits=6
        )
        write_clustered(szdf, s_zpath, ["_zkey"], n_files=16)
        pred_name = (
            F.col("item_name") >= F.format_string("item-%08d", F.lit(lo_p))
        ) & (F.col("item_name") < F.format_string("item-%08d", F.lit(hi_p)))
        res["decoded_string"] = {
            "arrival": decoded_scan_rows(
                spark.read.parquet(s_arrival).filter(pred_name)
            ),
            "zorder": decoded_scan_rows(
                spark.read.parquet(s_zpath).filter(pred_name)
            ),
        }

        # marker-last generational small-file compaction (readers
        # resolve the _CURRENT marker)
        from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
            compact_table,
            write_table,
        )

        root = f"{scratch}/table_root"
        write_table(li.repartition(64), root)
        t0 = time.perf_counter()
        rep2 = compact_table(spark, root, target_file_bytes=64 << 20)
        res["compact_marker"] = {
            "files_before": rep2["before"]["n_files"],
            "files_after": rep2["after"]["n_files"],
            "wall_s": round(time.perf_counter() - t0, 2),
        }

        # manifest file-level pruning: the metadata layer ABOVE parquet
        # row-group skipping — the same ~2%-selective filter against a
        # range-clustered GENERATIONAL table must open ~1 of 64 files
        # (no LIST, no footer read for the rest), with identical rows.
        # files_opened is read off the executed plan's inputFiles; the
        # prune itself is one small-JSON driver read.
        from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
            prune_manifest_files,
            read_manifest,
            read_table,
        )

        mroot = f"{scratch}/table_manifest"
        write_table(
            li.repartitionByRange(64, F.col("l_partkey")).sortWithinPartitions(
                "l_partkey"
            ),
            mroot,
            stats_cols=["l_partkey", "l_suppkey"],
        )
        where = [("l_partkey", ">=", lo_p), ("l_partkey", "<", hi_p)]
        t0 = time.perf_counter()
        man = read_manifest(spark, mroot)
        kept = prune_manifest_files(man, where)
        prune_ms = round((time.perf_counter() - t0) * 1000, 1)
        pruned_read = read_table(spark, mroot, where=where)
        full_read = read_table(spark, mroot).filter(pred_part)
        res["manifest"] = {
            "files_total": len(man["files"]),
            "files_opened": len(pruned_read.select("l_orderkey").inputFiles()),
            "files_kept_by_prune": len(kept),
            "prune_ms": prune_ms,
            "decoded_pruned": decoded_scan_rows(pruned_read),
            "decoded_full": decoded_scan_rows(full_read),
            "rows_match": pruned_read.count() == full_read.count(),
        }
        return res
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def retrieval_experiment(spark, sf_dir: str) -> dict:
    """BM25 retrieval: the at-rest posting index vs the one-shot
    corpus scan (``operators/text.py``). Builds ``text_index`` over
    the documents table, writes it term-clustered + term-bloomed
    through the table protocol, then runs the same queries both ways —
    measuring index build wall, per-query walls, the files the indexed
    point lookup opened vs the index's file count, and exact result
    parity. The steady-state claim being priced: a query pays
    O(postings of its terms), not O(corpus) — and the one-time index
    build is what buys it."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators import (
        layout,
    )
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        bm25_query_table,
        bm25_topk,
        bm25_topk_indexed,
        bm25_topk_many,
        read_bm25_stats,
        write_text_index,
    )

    # amplify the corpus 10x (planted copies, distinct ids) so the
    # scan-vs-index gap measures corpus-bound work, not fixed overhead
    copies = 10
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scratch = tempfile.mkdtemp(prefix="bm25_bench_")
    root = f"{scratch}/idx"
    try:
        # materialize the amplified corpus so the scan path really
        # reads 10x the bytes (not a re-derived explode)
        (
            base.withColumn(
                "_c", F.explode(F.sequence(F.lit(0), F.lit(copies - 1)))
            )
            .select(
                (F.col("doc_id") * copies + F.col("_c")).alias("doc_id"),
                "text",
            )
            .repartition(8)
            .write.parquet(f"{scratch}/corpus")
        )
        docs = spark.read.parquet(f"{scratch}/corpus")
        out: dict = {"corpus_docs": docs.count()}
        t0 = time.perf_counter()
        write_text_index(docs, "doc_id", "text", root, shards=16)
        out["index_build_s"] = round(time.perf_counter() - t0, 3)
        gen = layout._resolve_table_generation(spark, root)
        out["index_files"] = len(fsutil.list_files(spark, f"{gen}/data"))
        # corpus stats now land in the _BM25_STATS sidecar at write
        # time: serving reads one tiny JSON object, zero Spark jobs
        t0 = time.perf_counter()
        n_docs, avgdl = read_bm25_stats(spark, root)
        out["stats_s"] = round(time.perf_counter() - t0, 3)
        out["stats_source"] = "sidecar"
        queries = [
            "vector join stream",
            "customer filter",
            "hash merge sort window",
        ]
        scan_w, idx_w, handle_w, opened, parity = [], [], [], [], True
        handle = layout.open_table(spark, root)
        for q in queries:
            t0 = time.perf_counter()
            direct = bm25_topk(docs, "doc_id", "text", q, k=10).collect()
            scan_w.append(round(time.perf_counter() - t0, 3))
            terms = sorted({t for t in q.lower().split() if t})
            t0 = time.perf_counter()
            postings = layout.read_table(
                spark, root, where=("term", "in", terms)
            )
            got = bm25_topk_indexed(
                postings, q, k=10, n_docs=n_docs, avgdl=avgdl
            ).collect()
            idx_w.append(round(time.perf_counter() - t0, 3))
            opened.append(len(postings.inputFiles()))
            parity = parity and (
                [tuple(r) for r in got] == [tuple(r) for r in direct]
            )
            # the serving shape: same lookup through the snapshot-
            # pinned open_table handle (no per-call marker/manifest/
            # sidecar re-reads; bloom sidecar Spark-cached; corpus
            # stats from the _BM25_STATS sidecar, cached on the handle
            # — zero stats jobs per query)
            t0 = time.perf_counter()
            hgot = bm25_query_table(
                spark, root, q, k=10, handle=handle
            ).collect()
            handle_w.append(round(time.perf_counter() - t0, 3))
            parity = parity and (
                [tuple(r) for r in hgot] == [tuple(r) for r in direct]
            )
        handle.close()
        # batch retrieval: decontamination/eval-suite shape — many
        # queries, ONE pass (union-of-terms posting join + one window)
        # vs the per-query job loop
        n_batch = 64
        queries = [
            (i, f"term{(i * 7) % 100} term{(i * 13) % 100} common")
            for i in range(n_batch)
        ]
        qdf = spark.createDataFrame(queries, "query_id long, query string")
        full_idx = layout.read_table(spark, root)
        t0 = time.perf_counter()
        many = bm25_topk_many(
            full_idx, qdf, k=10, n_docs=n_docs, avgdl=avgdl
        ).collect()
        batch_wall = time.perf_counter() - t0
        t0 = time.perf_counter()
        loop_rows: dict = {}
        for i, q in queries[:8]:  # 8 representative per-query jobs
            loop_rows[i] = bm25_topk_indexed(
                full_idx, q, k=10, n_docs=n_docs, avgdl=avgdl
            ).collect()
        loop_wall = time.perf_counter() - t0
        by_q: dict = {}
        for r in many:
            by_q.setdefault(r["query_id"], []).append((r["id"], r["score"]))
        batch_parity = all(
            sorted(by_q.get(i, []), key=lambda t: (-t[1], t[0]))
            == [(r["id"], r["score"]) for r in rows]
            for i, rows in loop_rows.items()
        )
        out.update(
            {
                "batch_queries": n_batch,
                "batch_wall_s": round(batch_wall, 3),
                "batch_qps": round(n_batch / batch_wall, 1),
                "loop_qps": round(8 / loop_wall, 1),
                "batch_parity": batch_parity,
            }
        )
        out.update(
            {
                "scan_query_s": scan_w,
                "indexed_query_s": idx_w,
                "handle_query_s": handle_w,
                "files_opened": opened,
                "parity": parity,
            }
        )
        return out
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def webdataset_rss_experiment(spark, shard_mb: int = 256) -> dict:
    """Expansion-memory contract for the WebDataset reader (VERDICT r13
    #5): build ONE multi-hundred-MB tar shard (``shard_mb`` 1-MiB
    samples, n_shards=1), then run the identical expansion twice
    through :func:`webdataset_read_rss_probe` — chunked (chunk_rows=16)
    vs whole-shard (chunk_rows large enough that the tar emits as one
    frame, the pre-r14 behavior) — and report each run's peak Python-
    worker VmRSS. The chunked probe runs FIRST so allocator reuse can
    only inflate the whole-shard number, never flatter it. The claim
    priced: expansion memory beyond the unavoidable ``binaryFile``
    content is O(chunk), not O(shard)."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from big_data___knowledge_graph_construction_with_llm_spark.sources.webdataset import (
        webdataset_read_rss_probe,
        write_webdataset_shards,
    )

    scratch = tempfile.mkdtemp(prefix="wds_rss_")
    out_dir = f"{scratch}/wds"
    try:
        # 1 MiB of per-key pseudo-random bytes per sample: md5 hex (32
        # chars) repeated 65536x -> 2 MiB hex -> unhex -> 1 MiB binary
        df = spark.range(shard_mb).select(
            F.format_string("k%05d", F.col("id")).alias("key"),
            F.unhex(
                F.repeat(F.md5(F.col("id").cast("string")), 65536)
            ).alias("payload"),
        )
        t0 = time.perf_counter()
        report = write_webdataset_shards(df, out_dir, "key", "payload", n_shards=1)
        write_s = round(time.perf_counter() - t0, 2)
        tar_bytes = sum(r["tar_bytes"] for r in report.collect())
        chunked = webdataset_read_rss_probe(spark, out_dir, chunk_rows=16)
        whole = webdataset_read_rss_probe(spark, out_dir, chunk_rows=1 << 30)
        return {
            "shard_mb": round(tar_bytes / 1048576, 1),
            "samples": shard_mb,
            "write_s": write_s,
            "chunked": chunked,
            "whole_shard": whole,
            # expansion-attributable peak allocation (tracemalloc,
            # floor reset at shard arrival): the number chunk_rows
            # bounds — whole/chunked should approach samples/chunk_rows
            "expand_peak_ratio": round(
                whole["expand_peak_traced_kb"]
                / max(chunked["expand_peak_traced_kb"], 1),
                2,
            ),
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def batch_serving_scale_experiment(spark, sf_dir: str) -> dict:
    """Batch-retrieval qps vs corpus size AND query count (VERDICT r13
    #6): a 1x/10x corpus grid x 1x/10x query batches for both
    ``bm25_topk_many`` (64/640 queries over a ~200-term vocabulary —
    the term UNION grows ~1.6x while the batch grows 10x) and
    ``knn_ivf_many`` (40/400 queries, n_probe=2). The claim priced:
    batch cost tracks the union of probed terms/clusters over the
    corpus, not n_queries x corpus — so qps must RISE steeply with
    batch size at fixed corpus, and walls must scale ~linearly with
    corpus at fixed batch."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from big_data___knowledge_graph_construction_with_llm_spark.operators import layout
    from big_data___knowledge_graph_construction_with_llm_spark.operators.similarity import (
        ensure_ivf_index,
        knn_ivf_many,
    )
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        bm25_topk_many,
        read_bm25_stats,
        write_text_index,
    )

    scratch = tempfile.mkdtemp(prefix="batch_serve_")
    out: dict = {}
    try:
        base_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        base_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
            F.col("vec_id") != 0
        )
        for tag, copies in (("x1", 1), ("x10", 10)):
            # materialized amplified corpora (distinct ids) so the 10x
            # tier really reads 10x the bytes
            docs_path = f"{scratch}/{tag}/corpus"
            (
                base_docs.withColumn(
                    "_c", F.explode(F.sequence(F.lit(0), F.lit(copies - 1)))
                )
                .select(
                    (F.col("doc_id") * copies + F.col("_c")).alias("doc_id"),
                    "text",
                )
                .repartition(8)
                .write.parquet(docs_path)
            )
            docs = spark.read.parquet(docs_path)
            root = f"{scratch}/{tag}/idx"
            write_text_index(docs, "doc_id", "text", root, shards=16)
            n_docs, avgdl = read_bm25_stats(spark, root)
            full_idx = layout.read_table(spark, root)
            res: dict = {"corpus_docs": docs.count()}
            for qn in (64, 640):
                queries = [
                    (i, f"term{(i * 7) % 100} term{(i * 13) % 100} common")
                    for i in range(qn)
                ]
                qdf = spark.createDataFrame(
                    queries, "query_id long, query string"
                )
                n_terms = len(
                    {t for _i, q in queries for t in q.split()}
                )
                t0 = time.perf_counter()
                bm25_topk_many(
                    full_idx, qdf, k=10, n_docs=n_docs, avgdl=avgdl
                ).count()
                w = time.perf_counter() - t0
                res[f"q{qn}"] = {
                    "wall_s": round(w, 2),
                    "qps": round(qn / w, 1),
                    "union_terms": n_terms,
                }
            out[f"bm25_{tag}"] = res

            emb_path = f"{scratch}/{tag}/emb"
            (
                base_emb.withColumn(
                    "_c", F.explode(F.sequence(F.lit(0), F.lit(copies - 1)))
                )
                .select(
                    (F.col("vec_id") * copies + F.col("_c")).alias("vec_id"),
                    "embedding",
                )
                .repartition(8)
                .write.parquet(emb_path)
            )
            corpus = spark.read.parquet(emb_path)
            ivf_path = f"{scratch}/{tag}/ivf"
            idx, cents = ensure_ivf_index(
                spark, corpus, ivf_path, k=8, iterations=2
            )
            ires: dict = {"corpus_vecs": corpus.count()}
            qbase = base_emb.filter(F.col("vec_id") <= 40).select(
                F.col("vec_id").alias("_qid"),
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
            for qn in (40, 400):
                reps = qn // 40
                qframe = (
                    qbase.withColumn(
                        "_r",
                        F.explode(F.sequence(F.lit(0), F.lit(reps - 1))),
                    )
                    .select(
                        (F.col("_qid") * reps + F.col("_r")).alias("query_id"),
                        "embedding",
                    )
                )
                t0 = time.perf_counter()
                knn_ivf_many(idx, cents, qframe, 10, n_probe=2).count()
                w = time.perf_counter() - t0
                ires[f"q{qn}"] = {
                    "wall_s": round(w, 2),
                    "qps": round(qn / w, 1),
                }
            out[f"ivf_{tag}"] = ires
        return out
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def manifest_scale_experiment(
    spark, n_files: int = 50_000, n_dirs: int = 64
) -> dict:
    """The manifest machinery at METADATA scale (VERDICT r9 #1): a
    generation with ~``n_files`` real parquet files across ``n_dirs``
    hive partition dirs, range-clustered within each dir so file spans
    are prunable. Measures what the sharded v2 design must keep flat:
    root ``_MANIFEST`` bytes (O(dirs), never O(files)), manifest build
    wall, prune wall for a ~1%-selective data predicate (dir spans
    driver-side + one tiny sidecar job) and for a single-partition
    predicate (whole-dir pass), files actually opened by the pruned
    read, and row parity against the filtered full read. Scratch data
    is tiny per file — the experiment prices the METADATA path, which
    depends on file counts, not bytes."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        _prune_plan,
        current_table_path,
        read_manifest,
        read_table,
        write_table,
    )

    scratch = tempfile.mkdtemp(prefix="manifest_scale_")
    try:
        root = f"{scratch}/tbl"
        files_per_dir = n_files // n_dirs
        n_rows = n_files * 4
        df = spark.range(n_rows).select(
            F.col("id"),
            (F.col("id") % n_dirs).alias("bucket"),
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("fp"),
        )
        # each range task holds a disjoint k slice x all buckets ->
        # ~files_per_dir files per dir, disjoint k spans within a dir.
        # fp is a scattered fingerprint: no span stats recorded for it
        # (you wouldn't min/max a random hash), so the bloom leg below
        # isolates what blooms add over spans for point lookups.
        # write_s includes the write-time fp bloom build
        t0 = time.perf_counter()
        write_table(
            df.repartitionByRange(files_per_dir, F.col("k"))
            .sortWithinPartitions("k"),
            root,
            partition_by=["bucket"],
            stats_cols=["id", "bucket", "k"],
            bloom_cols=["fp"],
            bloom_fpp=0.001,
        )
        write_s = round(time.perf_counter() - t0, 2)
        man = read_manifest(spark, root)
        gen_dir = current_table_path(spark, root)[: -len("/data")]
        # the manifest build alone (footer harvest, r11): re-run it
        # against the just-written generation into a scratch path —
        # this is the per-commit metadata cost VERDICT r10 #2 priced
        # at 352.8s under the scan-based builder
        from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
            _write_manifest,
        )

        t0 = time.perf_counter()
        _write_manifest(spark, f"{gen_dir}/data", f"{scratch}/_M_timed")
        manifest_s = round(time.perf_counter() - t0, 2)
        root_bytes = len(fsutil.try_read_text(spark, f"{gen_dir}/_MANIFEST") or "")
        sidecar_files = fsutil.list_files(spark, f"{gen_dir}/_MANIFEST_FILES")

        # ~1%-selective k-window: dir level keeps every dir (k spans
        # all buckets), the sidecar job does the file-level work
        lo, hi = int(n_rows * 0.40), int(n_rows * 0.41)
        where_k = [("k", ">=", lo), ("k", "<", hi)]
        t0 = time.perf_counter()
        plan_k = _prune_plan(spark, man, where_k, gen_dir)
        prune_k_s = round(time.perf_counter() - t0, 3)
        pruned = read_table(spark, root, where=where_k)
        opened_k = len(pruned.select("id").inputFiles())
        rows_pruned = pruned.count()
        rows_full = (
            read_table(spark, root)
            .filter((F.col("k") >= lo) & (F.col("k") < hi))
            .count()
        )

        # single-partition predicate: resolved at dir level, handed to
        # the reader as ONE whole-dir path
        t0 = time.perf_counter()
        plan_b = _prune_plan(spark, man, ("bucket", "==", 3), gen_dir)
        prune_b_s = round(time.perf_counter() - t0, 3)

        # bloom leg (r11): a point lookup on the scattered fingerprint
        # column. Span-only control first (the manifest without its
        # blooms: no fp stats -> the prune keeps every file), then the
        # same lookup through the write-time bloom opening ~1 file of
        # n_files
        import hashlib

        probe_id = n_rows // 2
        probe_fp = hashlib.md5(str(probe_id).encode()).hexdigest()
        span_only = {k: v for k, v in man.items() if k != "blooms"}
        plan_span = _prune_plan(
            spark, span_only, ("fp", "==", probe_fp), gen_dir
        )
        t0 = time.perf_counter()
        plan_fp = _prune_plan(spark, man, ("fp", "==", probe_fp), gen_dir)
        bloom_prune_s = round(time.perf_counter() - t0, 3)
        hit = read_table(spark, root, where=("fp", "==", probe_fp))
        bloom_opened = len(hit.select("id").inputFiles())
        hit_ids = [r["id"] for r in hit.select("id").collect()]
        plan_miss = _prune_plan(
            spark, man, ("fp", "==", "0" * 32), gen_dir
        )
        bloom_files = fsutil.list_files(spark, f"{gen_dir}/_MANIFEST_BLOOM")
        bloom = {
            "sidecar_bytes": sum(sz for _, sz in bloom_files),
            "span_only_kept_files": plan_span["kept_files"],
            "kept_files": plan_fp["kept_files"],
            "prune_s": bloom_prune_s,
            "files_opened": bloom_opened,
            "row_found": hit_ids == [probe_id],
            "miss_kept_files": plan_miss["kept_files"],
        }
        return {
            "bloom": bloom,
            "n_files": man["n_files"],
            "n_dirs": len(man["dirs"]),
            "sharded": "files_table" in man,
            "write_s": write_s,
            "manifest_s": manifest_s,
            "root_manifest_bytes": root_bytes,
            "sidecar_files": len(sidecar_files),
            "sidecar_bytes": sum(sz for _, sz in sidecar_files),
            "selective": {
                "prune_s": prune_k_s,
                "kept_files": plan_k["kept_files"],
                "whole_dirs": len(plan_k["dirs"]),
                "explicit_files": len(plan_k["files"]),
                "files_opened": opened_k,
                "rows_match": rows_pruned == rows_full,
            },
            "partition": {
                "prune_s": prune_b_s,
                "whole_dirs": plan_b["dirs"],
                "explicit_files": len(plan_b["files"]),
                "kept_files": plan_b["kept_files"],
            },
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def ingest_chain_experiment(spark, sf_dir: str, n_batches: int = 4) -> dict:
    """Incremental vs rewrite absorb, priced (round 10): seed one
    generation from the lineitem corpus, land ``n_batches`` small
    micro-batches, and absorb them both ways. The rewrite absorb
    rewrites the WHOLE table (at 100 TB: a 100 TB write to fold a few
    micro-batches); the incremental absorb writes a _PARENT-chained
    delta holding only the batches. Reports absorb wall + bytes
    actually written per mode, reader parity, and the fold-back wall
    (compact_table) that returns the chain to one generation."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        absorb_landing,
        compact_table,
        landing_append,
        read_ingest_table,
    )
    from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )
    n_corpus = li.count()
    batch_rows = max(1_000, n_corpus // 100)
    scratch = tempfile.mkdtemp(prefix="ingest_chain_")
    out: dict = {"corpus_rows": n_corpus, "batch_rows": batch_rows}
    try:
        for mode in ("rewrite", "incremental"):
            inc = mode == "incremental"
            root = f"{scratch}/{mode}"
            landing_append(li, root, 0, lineage="seed")
            absorb_landing(spark, root, min_batches=1, incremental=inc)
            for b in range(1, n_batches + 1):
                landing_append(
                    spark.range(batch_rows).select(
                        (F.col("id") + b * batch_rows).alias("l_orderkey"),
                        F.lit(9).alias("l_linenumber"),
                        F.col("id").alias("l_partkey"),
                        F.lit(1.0).alias("l_extendedprice"),
                    ),
                    root,
                    b,
                    lineage="seed",
                )
            t0 = time.perf_counter()
            rep = absorb_landing(spark, root, min_batches=1, incremental=inc)
            wall = round(time.perf_counter() - t0, 2)
            gen_files = fsutil.list_files(
                spark, f"{root}/{rep['generation']}/data"
            )
            expected = n_corpus + n_batches * batch_rows
            res = {
                "absorb_wall_s": wall,
                "gen_bytes_written": sum(sz for _, sz in gen_files),
                "gen_files_written": len(gen_files),
                "rows_exact": read_ingest_table(spark, root).count()
                == expected,
            }
            if inc:
                t0 = time.perf_counter()
                fold = compact_table(spark, root, target_file_bytes=64 << 20)
                res["fold_wall_s"] = round(time.perf_counter() - t0, 2)
                res["links_folded"] = fold["links_folded"]
                res["rows_exact_after_fold"] = (
                    read_ingest_table(spark, root).count() == expected
                )
            out[mode] = res
        out["write_amplification_rewrite_vs_incremental"] = round(
            out["rewrite"]["gen_bytes_written"]
            / max(out["incremental"]["gen_bytes_written"], 1),
            1,
        )
        return out
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _bpe_corpus(spark, sf_dir: str, copies: int = 1):
    """Deterministic HIGH-CARDINALITY word corpus derived from
    lineitem — the bench ``documents`` table has a closed 31-word
    vocabulary, which is useless for pricing the encode path (its
    100 TB risk is the distinct-WORD set, not the row count). Each
    lineitem row becomes one document mixing a Zipf head (closed
    flag/status/quantity words, high frequency), a mid tier (~1k
    ``part###`` words), and a long tail of near-unique key-minted
    words; ``copies`` replicates rows with copy-suffixed tail words,
    so distinct words scale ~linearly with rows — the axis the
    frequency-split encode exists for."""
    from pyspark.sql import functions as F

    from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_returnflag", "l_linestatus",
    )
    base = li.crossJoin(
        spark.range(copies).select(F.col("id").alias("copy"))
    )
    tail_sfx = F.concat(F.lit("c"), F.col("copy"))
    return base.select(
        (
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")) * copies
            + F.col("copy")
        ).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("flag_"), F.col("l_returnflag")),
            F.concat(F.lit("stat_"), F.col("l_linestatus")),
            F.concat(F.lit("qty"), F.col("l_quantity").cast("int")),
            F.concat(F.lit("part"), F.col("l_partkey") % 1000),
            F.concat(
                F.lit("w"), F.col("l_partkey"),
                F.lit("x"), F.col("l_suppkey"), tail_sfx,
            ),
            F.concat(
                F.lit("u"), F.col("l_orderkey"),
                F.lit("l"), F.col("l_linenumber"), tail_sfx,
            ),
        ).alias("text"),
    )


def bpe_memory_curve(
    spark,
    sf_dir: str,
    max_words: int = 1_000_000,
    vocabs: tuple[int, ...] = (8_000, 32_000, 64_000),
) -> dict:
    """The BPE trainer's driver-memory sizing rule, MEASURED: run the
    driver-side merge loop (``operators.bpe._learn_merges``) in a
    FRESH SUBPROCESS per vocab tier over the SAME collected word
    table, so each tier's maxrss is its own high-water mark (one
    shared process would report only the largest). No Spark in the
    probes — the distributed count runs once here and ships as JSON.
    This is the curve the ``train_bpe`` docstring quotes (VERDICT r9
    #5): the peak tracks ``max_words`` (live pairs), not vocab size."""
    import json as _json
    import subprocess
    import sys as _sys
    import tempfile

    from big_data___knowledge_graph_construction_with_llm_spark.operators.bpe import (
        word_frequencies,
    )

    docs = _bpe_corpus(spark, sf_dir, copies=1)
    rows = word_frequencies(docs, "text", 1, max_words).collect()
    table = [[r["word"], int(r["count"])] for r in rows]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict = {"max_words": max_words, "distinct_words": len(table), "tiers": {}}
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fh:
        _json.dump(table, fh)
        tbl_path = fh.name
    probe = r"""
import json, resource, sys, time
sys.path.insert(0, {repo!r})
from big_data___knowledge_graph_construction_with_llm_spark.operators.bpe import END, _learn_merges
table = json.load(open({tbl!r}))
words = {{}}
for w, c in table:
    k = tuple(w) + (END,)
    words[k] = words.get(k, 0) + c
t0 = time.perf_counter()
alphabet, merges = _learn_merges(words, {vocab})
print(json.dumps({{
    "maxrss_mb": int(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024),
    "merge_loop_wall_s": round(time.perf_counter() - t0, 1),
    "n_merges": len(merges),
}}))
"""
    try:
        for v in vocabs:
            res = subprocess.run(
                [_sys.executable, "-c", probe.format(repo=repo, tbl=tbl_path, vocab=v)],
                capture_output=True,
                text=True,
                timeout=3600,
            )
            if res.returncode == 0:
                out["tiers"][str(v)] = _json.loads(res.stdout.strip().splitlines()[-1])
            else:
                out["tiers"][str(v)] = {"error": res.stderr[-500:]}
    finally:
        os.unlink(tbl_path)
    return out


def bpe_experiment(
    spark,
    sf_dir: str,
    vocab_size: int = 512,
    copies: int = 1,
    head_words: int = 100_000,
    max_words: int = 100_000,
) -> dict:
    """Measured contract for the learned BPE tokenizer at REALISTIC
    distinct-word cardinality (:func:`_bpe_corpus`: ~1M+ distinct
    words at sf0.1, ≥100k at sf0.01): train wall (distributed count +
    driver merge loop over the ``max_words``-capped table), encode
    wall with the frequency-split join ACTUALLY exercising its tail
    path (``head_words`` is set below the distinct count), the
    head/tail split sizes, the occurrence share the broadcast head
    covers, and the encode stage's shuffle volume — the numbers that
    make 'Python cost is per distinct word, broadcast is bounded'
    concrete where it matters."""
    from pyspark.sql import functions as F

    from big_data___knowledge_graph_construction_with_llm_spark.metrics import MetricsCollector
    from big_data___knowledge_graph_construction_with_llm_spark.operators.bpe import (
        bpe_encode_ids,
        train_bpe,
    )
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import tokens

    docs = _bpe_corpus(spark, sf_dir, copies=copies)
    n_docs = docs.count()
    counts = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    census = counts.agg(
        F.count(F.lit(1)).alias("distinct_words"),
        F.sum("c").alias("occurrences"),
    ).first()
    n_words, n_occ = int(census["distinct_words"]), int(census["occurrences"])
    head_occ = (
        counts.orderBy(F.col("c").desc(), "w")
        .limit(head_words)
        .agg(F.sum("c"))
        .first()[0]
    )
    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
    t0 = time.perf_counter()
    model = train_bpe(docs, vocab_size=vocab_size, max_words=max_words)
    train_s = round(time.perf_counter() - t0, 2)
    rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
    mc = MetricsCollector(spark)
    mc.start()
    t0 = time.perf_counter()
    agg = bpe_encode_ids(docs, model, head_words=head_words).agg(
        F.count("*").alias("n"), F.sum("n_pieces").alias("pieces")
    ).first()
    encode_s = round(time.perf_counter() - t0, 2)
    rec = mc.finish("bpe_encode")
    return {
        "n_docs": n_docs,
        "distinct_words": n_words,
        "occurrences": n_occ,
        "head_words": min(head_words, n_words),
        "tail_words": max(0, n_words - head_words),
        "head_occurrence_share": round(int(head_occ) / max(n_occ, 1), 4),
        "vocab_size": len(model.pieces),
        "n_merges": len(model.merges),
        "train_s": train_s,
        # maxrss is a process high-water mark: before/after brackets the
        # train's driver footprint only when this tier runs first or is
        # the biggest so far; report both so the bound is readable
        "driver_maxrss_mb_before_train": rss0,
        "driver_maxrss_mb_after_train": rss1,
        "encode_s": encode_s,
        "encode_shuffle_read_mb": round(rec["shuffle_read_bytes"] / (1 << 20), 2),
        "docs_per_s": round(agg["n"] / max(encode_s, 1e-9)),
        "words_per_s": round(n_occ / max(encode_s, 1e-9)),
        "total_pieces": int(agg["pieces"]),
    }


def validation_experiment(spark, sf_dir: str) -> dict:
    """Measured contract for the one-pass expectations gate: a
    six-rule report (completeness, range, regex, set, uniqueness +
    one referential rule into nation) over the orders table, with the
    scalar-rules wall separated from the anti-join wall — the claim
    priced is 'a gate costs one scan'."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators import validate as V
    from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    scalar_rules = [
        V.not_null("o_custkey"),
        V.in_range("o_totalprice", 0, 1e9),
        V.matches("o_orderstatus", "^[A-Z]$"),
        V.in_set(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        ),
        V.unique("o_orderkey"),
    ]
    t0 = time.perf_counter()
    rep = V.validate(orders, scalar_rules)
    scalar_rows = rep.collect()
    scalar_s = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    fk = V.validate(
        orders, [V.foreign_key("o_custkey", customer, "c_custkey")]
    ).collect()
    fk_s = round(time.perf_counter() - t0, 2)
    return {
        "n_rows": scalar_rows[0]["n_rows"],
        "n_scalar_rules": len(scalar_rules),
        "scalar_pass_s": scalar_s,
        "fk_antijoin_s": fk_s,
        "all_ok": all(r["ok"] for r in scalar_rows + fk),
        "violations": {
            r["rule"]: r["violations"]
            for r in scalar_rows + fk
            if r["violations"]
        },
    }


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base_dir = os.environ.get("SCALE_BASE", "/root/testdata/sf0.1")
    scaled_dir = os.environ.get("SCALE_DIR", os.path.join(repo, ".scale", "sf1"))
    scale30_dir = os.environ.get("SCALE30_DIR", os.path.join(repo, ".scale", "sf3"))
    scale100_dir = os.environ.get("SCALE100_DIR", os.path.join(repo, ".scale", "sf10"))

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark(app_name="spark-graft-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM so base-vs-scaled isn't skewed by one-time init
    spark.range(10_000_000).selectExpr("sum(id) s").write.format("noop").mode(
        "overwrite"
    ).save()

    probe_before = _heap_probe(spark)
    base = run_suite(spark, base_dir)
    probe_after_base = _heap_probe(spark)
    scaled = run_suite(spark, scaled_dir)
    probe_after_scaled = _heap_probe(spark)
    # attribution experiment 1: drop executor-visible state (cache +
    # cleaner drain) — whatever heap survives is driver-attributable
    _drop_session_state(spark)
    probe_scaled_cleaned = _heap_probe(spark)
    # attribution experiment 2 (control): re-run the 1x suite, clean
    # again. If the cleaned heap keeps growing while data went BACK to
    # 1x, the residual tracks accumulated per-task/stage bookkeeping
    # (bounded by spark.ui.retained* limits), not data volume — the
    # distinction the flat-driver-at-100x claim rests on.
    base_rerun = run_suite(spark, base_dir, repeats=1)
    _drop_session_state(spark)
    probe_rerun_cleaned = _heap_probe(spark)

    # second scaling decade: 30x on the three cheapest heavy pipelines,
    # then clean + probe — the driver residual must stay flat while the
    # data tripled past the already-measured 10x
    scaled30 = {}
    probe_30_cleaned = None
    if os.path.isdir(scale30_dir):
        scaled30 = run_suite(spark, scale30_dir, names=HEAVY30)
        _drop_session_state(spark)
        probe_30_cleaned = _heap_probe(spark)
    else:
        print(f"bench_scale: {scale30_dir} missing, skipping 30x tier", file=sys.stderr)

    # third decade: 100x on the same three pipelines (the tier skips
    # embeddings — none of these read them), closing a full 1x→10x→100x
    # two-decade span with the same clean + probe at the top
    scaled100 = {}
    probe_100_cleaned = None
    if os.path.isdir(scale100_dir):
        scaled100 = run_suite(spark, scale100_dir, names=HEAVY30)
        _drop_session_state(spark)
        probe_100_cleaned = _heap_probe(spark)
    else:
        print(f"bench_scale: {scale100_dir} missing, skipping 100x tier", file=sys.stderr)

    skew = skew_join_experiment(spark, scaled_dir)

    # manifest machinery at METADATA scale: ~50k real files — the tier
    # the sharded v2 root/sidecar split exists for (VERDICT r9 #1)
    manifest50k = manifest_scale_experiment(spark, n_files=50_000, n_dirs=64)

    # incremental vs rewrite absorb: the write-amplification number
    # behind the _PARENT-chained ingest generations (round 10)
    ingest_chain = ingest_chain_experiment(spark, base_dir)

    # batch retrieval on the corpus x query-count grid (r14): the
    # union-of-terms/probed-clusters cost claim, measured
    batch_serving = batch_serving_scale_experiment(spark, base_dir)

    # BPE at realistic distinct-word cardinality, two tiers: ~1M
    # distinct words at 1x, ~10M at 10x (copy-minted tails), proving
    # the frequency-split encode's distinct-word bound on the axis
    # that actually grows — head broadcast fixed at 100k words, tail
    # shuffle carrying only its own occurrences
    # vocab32k FIRST: maxrss is a high-water mark, so the production-
    # merge-count tier must run before anything bigger pollutes it
    bpe = {
        "vocab32k": bpe_experiment(
            spark, base_dir, vocab_size=32_000, copies=1,
            max_words=1_000_000,
        ),
        "x1": bpe_experiment(spark, base_dir, copies=1),
        "x10": bpe_experiment(spark, base_dir, copies=10),
    }

    # driver-memory sizing curve: fresh process per vocab tier over the
    # same 1M-word table (maxrss is a per-process high-water mark)
    bpe_mem = bpe_memory_curve(
        spark, base_dir, max_words=1_000_000, vocabs=(8_000, 32_000, 64_000)
    )

    def ratios(scaled_suite, base_suite):
        return {
            q: {
                "wall": round(
                    scaled_suite[q]["wall_s"] / max(base_suite[q]["wall_s"], 1e-9), 2
                ),
                "shuffle": round(
                    scaled_suite[q]["shuffle_read_mb"]
                    / max(base_suite[q]["shuffle_read_mb"], 1e-9),
                    2,
                ),
                "input": round(
                    scaled_suite[q]["input_mb"]
                    / max(base_suite[q]["input_mb"], 1e-9),
                    2,
                ),
            }
            for q in scaled_suite
        }

    result = {
        "copies": 10,
        "copies30": 30 if scaled30 else None,
        "copies100": 100 if scaled100 else None,
        "base_dir": base_dir,
        "scaled_dir": scaled_dir,
        "scale30_dir": scale30_dir if scaled30 else None,
        "scale100_dir": scale100_dir if scaled100 else None,
        "base": base,
        "scaled": scaled,
        "ratio": ratios(scaled, base),
        "scaled30": scaled30,
        "ratio30": ratios(scaled30, base),
        "scaled100": scaled100,
        "ratio100": ratios(scaled100, base),
        "skew_join": skew,
        "manifest50k": manifest50k,
        "ingest_chain": ingest_chain,
        "batch_serving": batch_serving,
        "bpe": bpe,
        "bpe_memory_curve": bpe_mem,
        "driver": {
            "py_maxrss_mb": int(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024),
            "probe_before": probe_before,
            "probe_after_base": probe_after_base,
            "probe_after_scaled": probe_after_scaled,
            "probe_scaled_cleaned": probe_scaled_cleaned,
            "probe_rerun_base_cleaned": probe_rerun_cleaned,
            "probe_30x_cleaned": probe_30_cleaned,
            "probe_100x_cleaned": probe_100_cleaned,
            "executor_attributable_mb": probe_after_scaled["live_heap_mb"]
            - probe_scaled_cleaned["live_heap_mb"],
            "driver_residual_mb": probe_scaled_cleaned["live_heap_mb"],
            "driver_residual_30x_mb": (
                probe_30_cleaned["live_heap_mb"] if probe_30_cleaned else None
            ),
            "driver_residual_100x_mb": (
                probe_100_cleaned["live_heap_mb"] if probe_100_cleaned else None
            ),
            "base_rerun_total_wall_s": round(
                sum(v["wall_s"] for v in base_rerun.values()), 2
            ),
            "note": (
                "local[n]: one JVM = driver + all executors; post-GC live "
                "heap. executor_attributable = reclaimed by cache-clear + "
                "ContextCleaner drain after the 10x pass; driver_residual = "
                "what survives (plans, status store, session) — compare "
                "probe_rerun_base_cleaned to see whether the residual "
                "tracks data volume (bad) or task count (bounded by "
                "spark.ui.retained* config)."
            ),
        },
        "base_total_wall_s": round(sum(v["wall_s"] for v in base.values()), 2),
        "scaled_total_wall_s": round(sum(v["wall_s"] for v in scaled.values()), 2),
    }
    with open(os.path.join(repo, "BENCH_SCALE.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    spark.stop()
    print(json.dumps({k: result[k] for k in ("base_total_wall_s", "scaled_total_wall_s", "ratio")}))


if __name__ == "__main__":
    main()
