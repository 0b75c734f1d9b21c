"""kg_build: museum records in five formats → extraction with the fake
LLM → validation → relation canonicalization → vertices/edges → entity
resolution against the catalogue's known artists → Neo4j bulk-CSV
export, then the batch's description documents → ``curate`` → a
written split. One operation is one batch of
``params.BUILD_RECORDS_PER_OP`` records turned into an exported graph
and a curated split."""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
from contextlib import nullcontext
from functools import reduce

from perfbench import checks, fakellm, gen
from perfbench import params as P
from perfbench.harness import Run, dir_bytes, median, spark_layers, timed_materialize


STAGES = ("quality_gate", "repetition_gate", "exact_dedup", "near_dedup",
          "decontaminate", "redact", "split")  # curate's stages for the arguments below
DOC_SCHEMA = "doc_id long, text string"


def write_jsonl(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def write_batch(run: Run, i: int, n: int) -> tuple[list[dict], dict, str]:
    records = gen.museum_records(run.seed, i, n)
    docs = gen.batch_docs(run.seed, i, records)
    base = run.path(f"in-{i}")
    for fmt, text in gen.render_files(records).items():
        os.makedirs(os.path.join(base, fmt), exist_ok=True)
        with open(os.path.join(base, fmt, f"part.{fmt}"), "w", encoding="utf-8") as f:
            f.write(text)
    write_jsonl(os.path.join(base, "docs", "part.json"), docs["docs"])
    write_jsonl(os.path.join(base, "benchmark", "part.json"), docs["benchmark"])
    return records, docs, base


class StageRecorder:
    """A materializer for traced runs that notes curate's stage
    boundaries — the materialize calls ``curate`` makes itself — and
    counts rows there and of the candidate-pair frames (``id_a``,
    ``id_b``) operators materialize between them. Counting time is
    kept off the stage clock."""

    def __init__(self, inner):
        self.inner = inner
        self.paused = 0.0
        self.t0 = time.perf_counter()
        self.bounds: list[tuple[float, int]] = []  # (stage clock at boundary, rows)
        self.pairs: list[tuple[int, int]] = []     # (stage index, candidate pairs)

    def __call__(self, df):
        out = self.inner(df)
        t = time.perf_counter()
        caller = sys._getframe(2).f_code.co_name  # materialize() is frame 1
        if caller == "curate":
            self.bounds.append((t - self.paused, out.count()))
        elif set(out.columns) == {"id_a", "id_b"}:
            self.pairs.append((len(self.bounds), out.count()))
        self.paused += time.perf_counter() - t
        return out

    def stage_s(self) -> dict[str, float]:
        clock = [self.t0] + [t for t, _ in self.bounds]
        return {name: clock[k + 1] - clock[k] for k, name in enumerate(STAGES[: len(self.bounds)])}

    def rows(self, stage: str) -> int:
        k = STAGES.index(stage)
        return self.bounds[k][1] if k < len(self.bounds) else 0


class Builder:
    """Runs the build pipeline through the engine's public functions,
    one span per layer. Traced runs force each layer's output at its
    boundary so the span holds that layer's work."""

    def __init__(self, run: Run, known_path: str):
        self.run = run
        self.known_path = known_path
        self.counters = fakellm.make_counters(run.spark.sparkContext)
        self.llm = fakellm.FakeLLM(self.counters)
        self.layer_counts: list[dict] = []

    def _force(self, df):
        from big_data___knowledge_graph_construction_with_llm_spark.materialize import materialize

        return materialize(df) if self.run.trace else df

    def build(self, base: str, out: str, trace_id: int):
        from pyspark.sql import functions as F

        from big_data___knowledge_graph_construction_with_llm_spark import materialize as M
        from big_data___knowledge_graph_construction_with_llm_spark.functions.canonical import (
            canonical_map_df, canonicalize_relations,
        )
        from big_data___knowledge_graph_construction_with_llm_spark.operators.curation import curate
        from big_data___knowledge_graph_construction_with_llm_spark.operators.graph import (
            apply_canonical, edges_from_triplets, resolve_entities, vertices_from_triplets,
        )
        from big_data___knowledge_graph_construction_with_llm_spark.pipeline import (
            extract_triplets_async, validate_triplets,
        )
        from big_data___knowledge_graph_construction_with_llm_spark.sources import (
            rdf, tabular, tolerant_json, xml,
        )
        from big_data___knowledge_graph_construction_with_llm_spark.sources.neo4j_sink import (
            export_neo4j_bulk_csv,
        )

        run, spark, tr, counts = self.run, self.run.spark, self.run.tracer, {}
        with tr.span("op.build", trace=trace_id):
            with tr.span("sources.read"):
                frames = [
                    tabular.read_csv(spark, f"{base}/csv"),
                    tabular.read_tsv(spark, f"{base}/tsv"),
                    tolerant_json.read_json_tolerant(spark, f"{base}/json", gen.JSON_SCHEMA),
                    xml.read_xml_records(spark, f"{base}/xml", row_tag="record"),
                    rdf.read_rdfxml_triples(spark, f"{base}/rdf"),
                ]
                frames = [self._force(f) for f in frames]
                if tr.enabled:
                    counts["rows"] = sum(f.count() for f in frames)
            with tr.span("pipeline.extract"):
                raw = reduce(
                    lambda a, b: a.unionByName(b),
                    [
                        extract_triplets_async(
                            f, self.llm, batch_size=P.LLM_CONCURRENCY,
                            fanout_partitions=run.nproc, **fakellm.retry_kwargs(),
                        )
                        for f in frames
                    ],
                )
                raw = self._force(raw)
            with tr.span("pipeline.validate"):
                valid = self._force(validate_triplets(raw))
                if tr.enabled:
                    counts["raw"], counts["valid"] = raw.count(), valid.count()
            with tr.span("functions.canonicalize"):
                trip = M.materialize(canonicalize_relations(valid, canonical_map_df(spark)))
            with tr.span("graph.build"):
                verts = self._force(vertices_from_triplets(trip))
                edges = self._force(edges_from_triplets(trip))
            job0 = run.last_job_id() if tr.enabled else 0
            with tr.span("graph.resolve"):
                persons = verts.filter(F.col("label") == "Person").select("id").unionByName(
                    spark.read.parquet(self.known_path).select("id")
                )
                mapping = self._force(
                    resolve_entities(
                        persons, max_edit=P.RESOLVE_MAX_EDIT, max_block=P.RESOLVE_MAX_BLOCK,
                    )
                )
            if tr.enabled:
                counts["resolve_jobs"] = run.last_job_id() - job0
            with tr.span("graph.apply_canonical"):
                edges_c = self._force(apply_canonical(edges, mapping))
                verts_c = self._force(apply_canonical(verts, mapping, cols=("id",)))
            with tr.span("neo4j_sink.export"):
                export_neo4j_bulk_csv(verts_c, edges_c, f"{out}/graph")
            M.release(trip)
            with tr.span("curation.curate"):
                docs = spark.read.schema(DOC_SCHEMA).json(f"{base}/docs")
                bench = spark.read.schema(DOC_SCHEMA).json(f"{base}/benchmark")
                rec = StageRecorder(M.get_materializer()) if tr.enabled else None
                with M.using_materializer(rec) if rec else nullcontext():
                    curated = curate(docs, "doc_id", "text", benchmark=bench, redact=True)
                t0 = time.perf_counter()
                curated.write.json(f"{out}/corpus")
                counts["curate_write_s"] = time.perf_counter() - t0
            if rec is not None:
                counts["curate"] = rec
        self.layer_counts.append(counts)


def write_known_artists(run: Run, path: str) -> list[str]:
    """The catalogue's known artists, the Person vertices every build
    resolves its mentions against, as a parquet table. It is an input,
    so it is generated like the records, without Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    known = [name for name, _ in gen.artist_pool(run.seed)]
    os.makedirs(path)
    pq.write_table(pa.table({"id": known}), os.path.join(path, "part-0.parquet"))
    return known


def read_corpus(path: str) -> dict[str, tuple[str, str]]:
    got = {}
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as f:
            for line in f:
                r = json.loads(line)
                got[r["doc_id"]] = (r["text"], r["split"])
    return got


def run_build(run: Run) -> tuple[dict, dict]:
    batches = {}

    def prepare(i, n=P.BUILD_RECORDS_PER_OP):
        t0 = time.perf_counter()
        batches[i] = write_batch(run, i, n)
        run.gen_s += time.perf_counter() - t0

    known_path = run.path("known-artists")
    t0 = time.perf_counter()
    known = write_known_artists(run, known_path)
    run.gen_s += time.perf_counter() - t0
    prepare(0, P.BUILD_WARMUP_RECORDS)
    spark_s = run.start_spark()
    run.describe_env()
    t0 = time.perf_counter()
    b = Builder(run, known_path)
    with run.tracer.span("setup.warmup"):
        b.build(batches[0][2], run.path("out-warm"), run.tracer.new_trace())
    warm_s = time.perf_counter() - t0
    setup_s = spark_s + warm_s

    since = time.perf_counter()
    calls0 = {k: v.value for k, v in b.counters.items()}
    job0, mc = run.last_job_id(), run.collector()
    lat, ops = [], []
    t_start = time.perf_counter()
    i = 1
    with timed_materialize(run):
        # closed loop over the window: at least BUILD_MIN_OPS operations,
        # then another only if, at the last one's latency, it would end
        # inside the window
        while len(lat) < P.BUILD_MIN_OPS or time.perf_counter() - t_start + lat[-1] <= run.seconds:
            prepare(i)
            out = run.path(f"out-{i}")
            t0 = time.perf_counter()
            b.build(batches[i][2], out, run.tracer.new_trace())
            lat.append(time.perf_counter() - t0)
            ops.append((i, out))
            i += 1
    spark_delta = mc.finish("window")
    jobs = run.last_job_id() - job0
    c = {k: v.value - calls0[k] for k, v in b.counters.items()}

    # checks: every exported graph equals the generator's ground truth,
    # every curated split keeps and drops what the generator planted
    n_trip = n_bytes = 0
    resolve_stats, kept = [], []
    for i, out in ops:
        records, docs, _ = batches[i]
        nodes, rels, trips, st = checks.expected_graph(
            records, known, P.RESOLVE_MAX_EDIT, P.RESOLVE_MAX_BLOCK
        )
        got_nodes = checks.read_csv_parts(os.path.join(out, "graph", "nodes"))
        got_rels = checks.read_csv_parts(os.path.join(out, "graph", "rels"))
        run.check(got_nodes == nodes, f"build op {i}: nodes differ ({len(got_nodes ^ nodes)} rows)")
        run.check(got_rels == rels, f"build op {i}: rels differ ({len(got_rels ^ rels)} rows)")
        corpus = read_corpus(os.path.join(out, "corpus"))
        problems = checks.check_curated(docs, corpus)
        run.check(not problems, f"build op {i}: curated split wrong: {problems}")
        n_trip += len(trips)
        n_bytes += dir_bytes(os.path.join(out, "graph"))
        resolve_stats.append(st)
        kept.append((len(docs["docs"]), len(corpus),
                     sum(b not in corpus for _, b, _ in docs["near_pairs"])))

    n_records = P.BUILD_RECORDS_PER_OP * len(lat)
    first = batches[ops[0][0]]
    run.record.update(
        input_records_per_op=P.BUILD_RECORDS_PER_OP,
        input_docs_per_op=len(first[1]["docs"]),
        input_bytes_per_op=dir_bytes(first[2]),
        working_set_bytes=dir_bytes(first[2]) + dir_bytes(known_path),
        known_artists=len(known),
        # workload descriptors from the reference resolution, not engine figures
        resolve_block_sizes_top3=resolve_stats[0]["block_sizes"][:3],
        resolve_pairs_examined_per_op=statistics.mean(s["pairs_examined"] for s in resolve_stats),
        resolve_pairs_matched_per_op=statistics.mean(s["pairs_matched"] for s in resolve_stats),
        curate_docs_in_out=[k[:2] for k in kept],
        near_dups_removed=f"{sum(k[2] for k in kept)}/{len(first[1]['near_pairs']) * len(kept)}",
        ops=len(lat), op_latency_s=[round(x, 4) for x in lat],
        spark_s=round(spark_s, 3), warmup_s=round(warm_s, 3),
        build_records_per_s=n_records / sum(lat),
    )
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (median(lat) * 1000, "ms"),
        "throughput_per_s": (n_records / sum(lat), "1/s"),
    }
    layers = {}
    if run.trace:
        agg = run.tracer.by_name(since)
        nops = len(lat)
        # layer spans hold only forcing (materialize) spans, so their
        # whole duration is the layer's work
        per_op = lambda name: agg.get(name, {}).get("total_s", 0.0) / nops  # noqa: E731
        lc = b.layer_counts[-nops:]
        cur = [x["curate"] for x in lc]
        mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
        extract_share = per_op("pipeline.extract") / per_op("op.build")
        run.record["pipeline_extract_share"] = extract_share
        layers.update({
            "sources.read_s": (per_op("sources.read"), "s"),
            "sources.rows": (mean([x["rows"] for x in lc]), "count"),
            "pipeline.extract_s": (per_op("pipeline.extract"), "s"),
            "pipeline.extract_share": (extract_share, "frac"),
            "pipeline.valid_frac": (sum(x["valid"] for x in lc) / max(1, sum(x["raw"] for x in lc)), "frac"),
            "functions.canonicalize_s": (per_op("functions.canonicalize"), "s"),
            "graph.build_s": (per_op("graph.build") + per_op("graph.apply_canonical"), "s"),
            "graph.resolve_s": (per_op("graph.resolve"), "s"),
            "graph.resolve_jobs": (mean([x["resolve_jobs"] for x in lc]), "count"),
            "neo4j_sink.export_s": (per_op("neo4j_sink.export"), "s"),
            "neo4j_sink.bytes_per_triplet": (n_bytes / max(1, n_trip), "B"),
            "curation.curate_s": (per_op("curation.curate"), "s"),
            "curation.write_s": (mean([x["curate_write_s"] for x in lc]), "s"),
            "dedup.candidate_pairs": (mean([
                sum(n for k, n in r.pairs if k == STAGES.index("near_dedup")) for r in cur
            ]), "count"),
            "dedup.removed_frac": (mean([
                1 - r.rows("near_dedup") / max(1, r.rows("repetition_gate")) for r in cur
            ]), "frac"),
            "llm_client.calls": (c["calls"] / nops, "count"),
            "llm_client.retries": (c["retries"] / nops, "count"),
            "llm_client.wait_s": (c["wait_s"] / nops, "s"),
            "llm_client.inflight_mean": (c["inflight_sum"] / max(1, c["calls"]), "count"),
            "llm_client.parse_yield": (c["yielding"] / max(1, c["calls"]), "frac"),
        })
        for stage in STAGES:
            layers[f"curation.stage_s.{stage}"] = (mean([r.stage_s().get(stage, 0.0) for r in cur]), "s")
        run.record["curate_boundaries_seen"] = [len(r.bounds) for r in cur]
        layers["materialize.calls"] = (agg.get("materialize", {}).get("n", 0) / nops, "count")
        layers["materialize.s"] = (agg.get("materialize", {}).get("total_s", 0.0) / nops, "s")
        layers.update(spark_layers(spark_delta, jobs, nops))
    return e2e, layers
