"""Structured Streaming operators (SURVEY.md §2.9 — all EXT).

The reference is batch-only; its nearest analogs are the line-streaming
S3 reader (``Art-Knowledge-Graph-AWS/GRAPH/main_neo4j_loader.py:60-75``)
and the batched incremental Neo4j flush (``:72-75``). Each function here
takes a *streaming* DataFrame and returns the transformed stream; batch
twins of the window aggregations live in ``plans/`` as oracle-checked
queries on the ``events`` table.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data___knowledge_graph_construction_with_llm_spark.materialize import materialize


def read_events_stream(
    spark, path: str, schema: str = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
) -> DataFrame:
    """File-based streaming source over a directory of JSON events."""
    return spark.readStream.schema(schema).json(path)


def tumbling_counts(
    events: DataFrame, window: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling-window count/sum per event_type with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window event counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session-window (gap-based) event counts per user — the streaming
    twin of ``operators.relational.sessionize``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n",
        )
    )


def stateful_dedup(
    events: DataFrame, keys: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon
    (``dropDuplicatesWithinWatermark`` keeps state bounded — the property
    that makes streaming dedup viable indefinitely)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left event with
    right events for the same key that happened AT OR BEFORE it, within
    ``within`` — e.g. purchases joined to the clicks that preceded them.

    Both sides carry watermarks and the join condition bounds the time
    difference on both ends, so the state store can evict rows once the
    watermark passes (an unbounded-interval stream-stream join would
    grow state forever — the condition IS the retention policy).
    Batch twin: ``q_asof`` (the as-of enrichment shape).
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    return lw.join(
        rw,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rt <= lt)
        & (rt >= lt - F.expr(f"INTERVAL {within}")),
    )


def write_foreach_batch(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger_seconds: int = 10,
):
    """Micro-batch sink — the engine's version of the reference's batched
    Neo4j flush (size-500 batches, ``…AWS/GRAPH/main_neo4j_loader.py:72-75``):
    rate is controlled by trigger interval, idempotency by batch_id."""
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def _store_landing(store_path: str) -> str:
    """The append area of a fingerprint store: micro-batches land here
    as ``(lineage, batch_id)`` partitions; :func:`compact_fingerprint_store`
    periodically absorbs them into a marker-committed generation under
    the same root (``store_path/gen-*`` + ``_CURRENT``), closing the
    small-files growth an append-forever stream sink otherwise has."""
    return f"{store_path}/landing"


def bootstrap_fingerprint_store(
    corpus: DataFrame,
    store_path: str,
    text_col: str,
    id_col: str,
    normalize: bool = False,
) -> None:
    """Seed an ``incremental_dedup_sink`` store from an existing
    (already deduplicated) corpus — the batch full-pass → streaming
    handoff. Writes ``content_fingerprints`` under the reserved
    ``lineage="bootstrap"`` partition of the store's LANDING area,
    which no stream lineage ever prunes or overwrites, so the stream
    dedups against the whole bootstrapped corpus from its very first
    batch. ``normalize`` picks the store's fingerprint identity
    (fuzzy-exact vs byte-exact — see ``content_fingerprints``); every
    ``incremental_dedup_sink`` serving this store must pass the same
    value."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        content_fingerprints,
    )

    (
        content_fingerprints(corpus, text_col, id_col, normalize=normalize)
        .withColumn("lineage", F.lit("bootstrap"))
        .withColumn("batch_id", F.lit(0).cast("long"))
        .write.partitionBy("lineage", "batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(_store_landing(store_path))
    )


def incremental_dedup_sink(
    store_path: str,
    text_col: str,
    id_col: str,
    emit: Callable[[DataFrame, int], None],
    lineage: str,
    normalize: bool = False,
    expectations: list | None = None,
    quarantine_path: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body that makes exact dedup STREAMING against a
    durable store: each micro-batch is deduped against the at-rest
    ``content_fingerprints`` table (``operators.dedup``) — never against
    the landed corpus itself — survivors go to ``emit``, and only the
    survivors' fingerprints (24 bytes/doc) are appended. Same
    fingerprint definition as the batch ``incremental_dedup`` path;
    seed the store from a batch full-pass with
    :func:`bootstrap_fingerprint_store` and the two can never disagree.

    Unlike ``curate_stream``'s ``dropDuplicatesWithinWatermark`` (state
    bounded by the watermark horizon — re-deliveries only), this sink
    dedups against ALL history with ZERO streaming state: the history
    lives in the store, not the state store.

    ``lineage`` names the checkpoint lineage this sink serves: pass the
    same string as long as the query restarts FROM THE SAME CHECKPOINT
    (Spark then replays the same batch_ids), and a NEW string whenever
    you start over with a fresh checkpoint (batch_id restarts at 0 —
    under the old lineage those ids would collide with history).
    History from other lineages — earlier runs, ``"bootstrap"`` — is
    always honored and never touched. ``"bootstrap"`` itself is a
    RESERVED lineage name (:func:`bootstrap_fingerprint_store` writes
    it) and is rejected here: a stream running under it would prune the
    seeded corpus history from its store reads (batch 0 prunes
    ``batch_id >= 0``) and dynamically overwrite the ``(bootstrap, 0)``
    partition, silently re-admitting duplicates.

    Idempotent under batch replay (the ``foreachBatch`` contract is
    at-least-once): fingerprints are partitioned by
    ``(lineage, batch_id)`` and a replay (a) prunes its own and later
    batches of ITS OWN lineage from the store read, so it recomputes
    exactly the original survivor set even if the failed attempt
    already appended, and (b) dynamically overwrites only its own
    partition. ``emit`` must be idempotent per ``batch_id``, as for
    any foreachBatch sink. The store read is schema-pinned (no
    inference), so empty micro-batches and a not-yet-populated store
    are safe.

    ``normalize`` is the store's fingerprint identity (fuzzy-exact vs
    byte-exact) and must match what :func:`bootstrap_fingerprint_store`
    and every other lineage of this store use — it is part of the
    store's definition, not a per-stream knob.

    STORE LAYOUT: new fingerprints land as ``(lineage, batch_id)``
    partitions under ``store_path/landing``;
    :func:`compact_fingerprint_store` periodically absorbs landed
    batches into a marker-committed generation (``store_path/gen-*``
    + ``_CURRENT`` — ``operators.layout`` protocol), so the store
    never accumulates one file per micro-batch forever. Every store
    read here unions the committed generation (if any) and the landing
    area under the same replay prune (lineage/batch_id are physical
    columns in both).

    ``expectations`` (optional, :mod:`operators.validate` rules) is
    the per-micro-batch data gate: the one-scan :func:`validate`
    report runs BEFORE dedup, and a violating batch is ROUTED WHOLE to
    ``quarantine_path`` (required with expectations; written as its
    own ``(lineage, batch_id)`` partition with the violated rule names
    in ``_violations``, dynamic-overwrite so replays stay idempotent)
    instead of raising — a query-killing raise would take the whole
    stream down for one bad batch; the quarantine keeps the stream
    live and the bad batch inspectable/replayable. Quarantined batches
    are NOT emitted and leave no store fingerprints, so a re-ingest
    of the fixed data dedups normally.
    """
    if lineage == "bootstrap":
        raise ValueError(
            'lineage "bootstrap" is reserved for bootstrap_fingerprint_store; '
            "pick a different lineage name for the stream"
        )
    if expectations and quarantine_path is None:
        raise ValueError(
            "expectations= needs quarantine_path= (violating batches are"
            " routed, not raised — a raise would kill the stream)"
        )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
            content_fingerprints,
            incremental_dedup,
        )

        spark = batch.sparkSession
        # the batch feeds TWO actions (fingerprint pass, emit join) and a
        # foreachBatch frame re-reads its source slice per action — cache
        # it so each micro-batch is read from the source exactly once
        batch = batch.persist()
        try:
            if expectations:
                from big_data___knowledge_graph_construction_with_llm_spark.operators.validate import (
                    validate,
                )

                bad = [
                    r
                    for r in validate(batch, expectations).collect()
                    if not r["ok"]
                ]
                if bad:
                    (
                        batch.withColumn(
                            "_violations",
                            F.array(*[F.lit(r["rule"]) for r in bad]),
                        )
                        .withColumn("lineage", F.lit(lineage))
                        .withColumn("batch_id", F.lit(batch_id).cast("long"))
                        .write.partitionBy("lineage", "batch_id")
                        .option("partitionOverwriteMode", "dynamic")
                        .mode("overwrite")
                        .parquet(quarantine_path)
                    )
                    return
            empty_fps = content_fingerprints(batch.limit(0), text_col, id_col)
            store_schema = (
                empty_fps.withColumn("lineage", F.lit(""))
                .withColumn("batch_id", F.lit(0).cast("long"))
                .schema
            )
            replay_prune = ~(
                (F.col("lineage") == F.lit(lineage))
                & (F.col("batch_id") >= F.lit(batch_id))
            )
            fps = empty_fps.withColumn("lineage", F.lit("")).withColumn(
                "batch_id", F.lit(0).cast("long")
            )
            for frame in _store_read_frames(spark, store_path, store_schema):
                fps = fps.unionByName(frame.filter(replay_prune))
            fps = fps.drop("lineage", "batch_id")
            _, new_fps = incremental_dedup(
                batch, fps, text_col, id_col, normalize=normalize
            )
            # one materialized frame decides the batch: the emitted rows
            # and the store append both derive from it, so they cannot
            # disagree (and the batch is fingerprinted exactly once)
            new_fps = materialize(new_fps)
            emit(batch.join(new_fps.select(id_col), id_col, "left_semi"), batch_id)
            (
                new_fps.withColumn("lineage", F.lit(lineage))
                .withColumn("batch_id", F.lit(batch_id).cast("long"))
                .write.partitionBy("lineage", "batch_id")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(_store_landing(store_path))
            )
        finally:
            batch.unpersist()

    return _sink


def _landing_partition_dirs(spark, landing: str) -> list[str]:
    """The ``lineage=*/batch_id=*`` partition dirs under the store's
    landing area, enumerated explicitly — the snapshot a compaction
    absorbs."""
    from big_data___knowledge_graph_construction_with_llm_spark import fsutil

    out: list[str] = []
    for lin, _ in fsutil.list_dir(spark, landing):
        if lin.startswith("lineage="):
            out += [
                f"{lin}/{b}"
                for b, _ in fsutil.list_dir(spark, f"{landing}/{lin}")
                if b.startswith("batch_id=")
            ]
    return out


def _store_read_frames(spark, store_path: str, store_schema) -> list:
    """The schema-pinned frames a fingerprint-store read unions: the
    committed generation (if a ``_CURRENT`` marker resolves, with
    lineage/batch_id as physical columns) and the landing area
    (partition columns).

    The generation leg reads the full ``_PARENT`` CHAIN with tombstones
    applied (``layout._read_generation_pruned``): the store's own
    compactor only ever writes parentless generations, but the store
    root speaks the generic table protocol — so a GDPR retraction is
    just ``layout.delete_from_table(spark, store_path, id_col,
    keys=...)``, after which re-arriving content of the deleted docs is
    KEPT again (the original no longer exists) instead of silently
    suppressed forever by orphaned fingerprints."""
    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        _read_generation_pruned,
        _resolve_table_generation,
    )

    out = []
    gen = _resolve_table_generation(spark, store_path, retries=1)
    if gen is not None:
        g = _read_generation_pruned(spark, store_path, gen, None)
        # null-fill fields absent from an older/drifted generation,
        # mirroring spark.read.schema()'s tolerance — a committed
        # generation missing one store_schema field must union as
        # nulls, not fail the whole store read (ADVICE r11)
        have = set(g.columns)
        out.append(
            g.select(
                *[
                    (
                        F.col(f.name) if f.name in have else F.lit(None)
                    )
                    .cast(f.dataType)
                    .alias(f.name)
                    for f in store_schema.fields
                ]
            )
        )
    landing = _store_landing(store_path)
    if fsutil.exists(spark, landing):
        out.append(spark.read.schema(store_schema).parquet(landing))
    return out


def compact_fingerprint_store(
    spark,
    store_path: str,
    min_batches: int = 8,
    target_file_bytes: int = 64 << 20,
) -> dict:
    """Absorb landed micro-batch partitions (plus the previously
    committed generation) into ONE new
    marker-committed generation of the fingerprint store — the
    maintenance pass that keeps a forever-running ingest stream from
    drowning its own store in per-batch small files. Safe to run WHILE
    the stream runs:

    - the absorbed set is SNAPSHOTTED first (the landing partitions
      listed at entry); batches landing after the snapshot are
      untouched and remain readable via the landing leg;
    - the new generation commits marker-last (``layout.write_table``
      mechanics — lineage/batch_id become physical columns, so replay
      pruning keeps working against compacted history);
    - absorbed landing partitions are deleted only AFTER the marker
      lands; a reader in the swap window sees a fingerprint twice
      (generation + not-yet-deleted landing), which dedup semantics
      tolerate by construction (presence is what matters);
    - a checkpoint REPLAY of an absorbed batch re-runs against the
      pruned read (the generation rows prune by the same columns) and
      recomputes the identical survivor set, then lands its partition
      again — duplicate fingerprints, same answers; the next
      compaction folds them back in.

    ``min_batches`` gates the rewrite (census-only skip below it —
    the scheduler can call this unconditionally). Returns the report:
    absorbed batch count, landing files before / generation files
    after, and the generation name, or ``{"compacted": False, ...}``."""
    from big_data___knowledge_graph_construction_with_llm_spark import fsutil
    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        _gen_chain,
        _read_generation_pruned,
        _resolve_table_generation,
        write_table,
    )

    landing = _store_landing(store_path)
    absorbed = _landing_partition_dirs(spark, landing)  # snapshot, now
    if len(absorbed) < min_batches:
        return {"compacted": False, "landing_batches": len(absorbed)}
    gen = _resolve_table_generation(spark, store_path)
    parts = []
    if gen is not None:
        # full chain with tombstones applied: a compaction after a
        # GDPR retraction (layout.delete_from_table on the store root)
        # MATERIALIZES the retraction instead of reading only the
        # delta's empty head
        parts.append(_read_generation_pruned(spark, store_path, gen, None))
    if absorbed:
        parts.append(
            spark.read.option("basePath", landing).parquet(
                *[f"{landing}/{p}" for p in absorbed]
            )
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    census = fsutil.list_files(spark, landing)
    if gen:
        for member in _gen_chain(spark, store_path, gen):
            census += fsutil.list_files(spark, f"{member}/data")
    files_before = len(census)
    total_bytes = sum(sz for _, sz in census)
    n_out = max(1, -(-total_bytes // target_file_bytes))
    try:
        name = write_table(
            merged.repartition(n_out), store_path, manifest=False
        )
    except Exception:
        # a concurrent compactor that won deletes its absorbed
        # partitions; OUR snapshot read then dies on missing inputs
        # mid-write. That is a lost race, not data loss — lose
        # GRACEFULLY (the scheduler contract: this pass is called
        # unconditionally) when a winner demonstrably covers the
        # snapshot: the marker names a DIFFERENT generation than the
        # one we snapshotted AND every snapshotted partition is gone
        # (only a visible-commit winner deletes them). Anything else
        # re-raises — a genuine I/O failure must surface.
        gen_now = _resolve_table_generation(spark, store_path, retries=1)
        raced = gen_now is not None and gen_now != gen
        gone = all(
            not fsutil.exists(spark, f"{landing}/{p}") for p in absorbed
        )
        if raced and gone:
            return {
                "compacted": False,
                "reason": "snapshot raced a concurrent compaction whose"
                " commit absorbed it; nothing lost, nothing to retry",
            }
        raise
    # delete ONLY when the commit is visibly ours: a marker write that
    # failed-but-was-swallowed behind an existing winner (or a
    # concurrent compactor whose different snapshot won) leaves a
    # current generation that does NOT hold these partitions'
    # fingerprints — deleting them then would silently re-admit every
    # previously-seen duplicate. Left in place, the next compaction
    # retries them (duplicate fingerprints across legs are harmless).
    gen_now = _resolve_table_generation(spark, store_path)
    if gen_now is None or gen_now.rsplit("/", 1)[-1] != name:
        return {
            "compacted": False,
            "reason": "commit not visible (marker write failed or lost"
            " a concurrent race); nothing deleted",
            "generation": name,
        }
    # emptied landing lineage dirs stay: they are LIVE — a concurrent
    # micro-batch can land between an emptiness check and a recursive
    # delete, and deleting it would lose that batch's fingerprints
    for p in absorbed:
        fsutil.delete(spark, f"{landing}/{p}")
    new_data = f"{store_path}/{name}/data"
    return {
        "compacted": True,
        "generation": name,
        "absorbed_batches": len(absorbed),
        "files_before": files_before,
        "files_after": len(fsutil.list_files(spark, new_data)),
    }


def curate_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    watermark: str = "1 hour",
    redact: bool = True,
) -> DataFrame:
    """Streaming ingest curation: the stateless/bounded-state prefix of
    ``operators.curation.curate`` applied to a document STREAM — quality
    band-pass (pure expressions, per-row), watermarked exact dedup on
    the content hash (bounded state via
    ``dropDuplicatesWithinWatermark``), then PII redaction. Near-dedup /
    decontamination are corpus-global and stay batch jobs over the
    landed data — this split (cheap gates at ingest, global passes
    offline) is how a 100 TB pipeline actually runs: the stream shrinks
    the data before it ever lands, the batch pass owns cross-document
    decisions.

    The content hash dedups identical re-deliveries (at-least-once
    sources) and verbatim duplicates inside the watermark horizon;
    redaction runs LAST, mirroring the batch ``curate(redact=True)``
    ordering, so dedup sees the original text.
    """
    from big_data___knowledge_graph_construction_with_llm_spark.operators import text as T

    toks = T.token_count(text_col)
    gated = docs.filter(toks.between(min_tokens, max_tokens))
    # hash columns get names guaranteed absent from the input, so a
    # source that already carries e.g. an upstream `_h` fingerprint is
    # passed through untouched rather than clobbered-and-dropped
    h_col, m_col = "_curate_h", "_curate_m"
    while h_col in docs.columns or m_col in docs.columns:
        h_col, m_col = h_col + "_", m_col + "_"
    hashed = gated.withColumns(
        {h_col: F.xxhash64(text_col), m_col: F.md5(text_col)}
    )
    deduped = (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark([h_col, m_col])
        .drop(h_col, m_col)
    )
    if redact:
        deduped = deduped.withColumn(text_col, T.redact_pii(text_col))
    return deduped
