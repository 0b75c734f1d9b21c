"""kg_update: a closed-loop query mix beside an open-loop streaming writer.

Set-up writes the at-rest structures the queries read — the edge table
(``write_table``), the dedup fingerprint store
(``bootstrap_fingerprint_store``), the BM25 index (``write_text_index``)
and the IVF index (``ensure_ivf_index``) — starts the streaming query
and runs one untimed pass of every query kind and one micro-batch.

In the timed window ``params.SERVE_CLIENTS`` client threads run the
seeded mix back to back: entity point lookups and 2-hop neighbourhoods
(``k_hop_subgraph``) on the live table (``read_ingest_table``),
similar-entity search (``knn_ivf``) and text search
(``bm25_query_table`` with an ``open_table`` handle). Meanwhile a
generator thread drops one record file every
``params.UPDATE_FILE_EVERY_S`` seconds, and a Structured Streaming
query extracts (fake LLM), validates and canonicalizes triplets, dedups
them against the fingerprint store (``incremental_dedup_sink``), lands
them (``landing_append``) and folds landed batches (``absorb_landing``)."""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

from perfbench import checks, fakellm, gen
from perfbench import params as P
from perfbench.harness import Run, dir_bytes, median, percentile, spark_layers, timed_materialize

LINEAGE = "stream"


class Graph:
    """The generated base graph: edges, entities, docs and vectors."""

    def __init__(self, seed: int):
        records = gen.museum_records(seed, 0, P.SERVE_RECORDS)
        trips = checks.expected_triplets(records)
        self.edges = sorted({(s, o, r) for s, _, r, o, _ in trips})
        self.titles = sorted({r["title"] for r in records})
        persons = {t[3] for t in trips if t[4] == "Person"}
        # by catalogue popularity (the pool's Zipf rank), most prolific first
        self.artists = [a for a, _ in gen.artist_pool(seed) if a in persons]
        self.docs = [
            {"id": r["title"], "text": f"{r['title']} by {r['artist']} depicting"
             f" {r['subject']} kept at {r['museum']} dated {r['year']}"}
            for r in records
        ]
        by_title = {r["title"]: r for r in records}
        self.vectors = {
            t: gen.embedding(f"{by_title[t]['subject']}|{t}", P.EMBED_DIM) for t in self.titles
        }
        self.vocab = sorted({w.lower() for d in self.docs for w in d["text"].split()})


def stream_records(seed: int, n_files: int) -> list[list[dict]]:
    """Records of each dropped file; file k holds generator batch k+1,
    so its titles are new to the base graph (batch 0)."""
    return [gen.museum_records(seed, k + 1, P.UPDATE_RECORDS_PER_FILE) for k in range(n_files)]


def stream_edges(records: list[dict]) -> set[tuple[str, str, str]]:
    return {(s, o, r) for s, _, r, o, _ in checks.expected_triplets(records, mixed=False)}


class Server:
    """Engine-side state and the four query kinds."""

    def __init__(self, run: Run, g: Graph):
        self.run, self.g = run, g

    def prepare(self, base: str) -> None:
        """Write the edge table, fingerprint store, text index and IVF
        index under ``base``. They are independent, so they are built
        concurrently, as a deployment would."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import functions as F

        from big_data___knowledge_graph_construction_with_llm_spark.operators import layout, similarity, text
        from big_data___knowledge_graph_construction_with_llm_spark.streaming.events import (
            bootstrap_fingerprint_store,
        )

        spark, tr = self.run.spark, self.run.tracer
        self.table, self.store = f"{base}/edges", f"{base}/fp-store"
        self.text_root, self.ivf_path = f"{base}/text", f"{base}/ivf"
        edges = spark.createDataFrame(self.g.edges, "src string, dst string, relationship string")

        def edge_table():
            with tr.span("layout.write_table"):
                layout.write_table(edges, self.table, bloom_cols=["src"])

        def fp_store():
            with tr.span("dedup.bootstrap_store"):
                bootstrap_fingerprint_store(
                    edges.withColumn("_key", F.concat_ws("\x1f", "src", "relationship", "dst")),
                    self.store, "_key", "_key",
                )

        def text_index():
            docs = spark.createDataFrame(self.g.docs, "id string, text string")
            with tr.span("text.write_text_index"):
                text.write_text_index(docs, "id", "text", self.text_root, shards=4)

        def ivf_index():
            vecs = spark.createDataFrame(
                list(self.g.vectors.items()), "vec_id string, embedding array<double>"
            )
            with tr.span("similarity.ensure_ivf_index"):
                index, cents = similarity.ensure_ivf_index(
                    spark, vecs, self.ivf_path, k=P.IVF_LISTS, iterations=2
                )
                cents = cents.cache()
                cents.count()
            return index, cents

        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = [pool.submit(f) for f in (edge_table, fp_store, text_index, ivf_index)]
            results = [f.result() for f in futures]
        self.ivf, self.cents = results[-1]
        self.text_handle = layout.open_table(spark, self.text_root)

    def edges_df(self, where=None):
        from big_data___knowledge_graph_construction_with_llm_spark.operators import layout

        return layout.read_ingest_table(self.run.spark, self.table, where=where).select(
            "src", "dst", "relationship"
        )

    def query(self, kind: str, arg, trace_id: int):
        from big_data___knowledge_graph_construction_with_llm_spark.operators import graph_algos, similarity, text

        spark, tr = self.run.spark, self.run.tracer
        with tr.span(f"query.{kind}", trace=trace_id):
            if kind == "lookup":
                with tr.span("layout.lookup"):
                    rows = self.edges_df(where=("src", "==", arg)).collect()
                return sorted((r["src"], r["dst"], r["relationship"]) for r in rows)
            if kind == "khop":
                with tr.span("graph_algos.khop"):
                    src = spark.createDataFrame([(arg,)], "id string")
                    rows = graph_algos.k_hop_subgraph(self.edges_df(), src, 2, directed=False).collect()
                return sorted((r["src"], r["dst"], r["relationship"]) for r in rows)
            if kind == "text":
                with tr.span("text.bm25"):
                    rows = text.bm25_query_table(
                        spark, self.text_root, arg, k=P.BM25_K, handle=self.text_handle
                    ).collect()
                return [(r["id"], float(r["score"])) for r in rows]
            with tr.span("similarity.knn"):
                rows = similarity.knn_ivf(
                    self.ivf, self.cents, self.g.vectors[arg], P.KNN_K, n_probe=P.IVF_PROBE
                ).collect()
            return [(r["vec_id"], float(r["cosine"])) for r in rows]


class Ingest:
    """The writer: open-loop file generator plus the streaming query."""

    def __init__(self, run: Run, server: Server):
        self.run, self.server = run, server
        self.inbox = run.path("inbox")
        self.staging = run.path("staging")
        os.makedirs(self.inbox)
        os.makedirs(self.staging)
        self.counters = fakellm.make_counters(run.spark.sparkContext)
        self.llm = fakellm.FakeLLM(self.counters)
        self.lock = threading.Lock()
        self.due: dict[int, float] = {}
        self.landed: dict[int, float] = {}
        self.lateness: list[float] = []
        self.batches: list[dict] = []
        self.n_files = 0
        self.stop_gen = threading.Event()

    def drop(self, k: int, records: list[dict], due: float) -> None:
        """Write file ``k`` (staged, then renamed into the watched
        directory, so the stream never sees half a file)."""
        tmp = os.path.join(self.staging, f"f{k:05d}.json")
        with open(tmp, "w", encoding="utf-8") as f:
            for r in records:
                f.write(json.dumps({**r, "file_no": k}) + "\n")
        os.rename(tmp, os.path.join(self.inbox, f"f{k:05d}.json"))
        with self.lock:
            self.due[k] = due
            self.lateness.append(time.time() - due)

    def foreach_batch(self, batch, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from big_data___knowledge_graph_construction_with_llm_spark.functions.canonical import (
            canonical_map_df, canonicalize_relations,
        )
        from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
            absorb_landing, landing_append,
        )
        from big_data___knowledge_graph_construction_with_llm_spark.pipeline import (
            extract_triplets_async, validate_triplets,
        )
        from big_data___knowledge_graph_construction_with_llm_spark.streaming.events import (
            incremental_dedup_sink,
        )

        tr, spark, table = self.run.tracer, self.run.spark, self.server.table
        t0 = time.perf_counter()
        files = [r[0] for r in batch.select("file_no").distinct().collect()]
        if not files:
            return
        landed_rows = [0]

        def emit(rows, bid):
            rows = rows.drop("_key").cache()
            landed_rows[0] = rows.count()
            with tr.span("layout.landing_append"):
                landing_append(rows, table, bid, lineage=LINEAGE)
            rows.unpersist()

        with tr.span("streaming.batch", trace=tr.new_trace()):
            trip = canonicalize_relations(
                validate_triplets(
                    extract_triplets_async(
                        batch.drop("file_no"), self.llm, batch_size=P.LLM_CONCURRENCY,
                        **fakellm.retry_kwargs(),
                    )
                ),
                canonical_map_df(spark),
            )
            edges = (
                trip.select(F.col("subject").alias("src"), F.col("object").alias("dst"),
                            F.col("relation").alias("relationship"))
                .distinct()
                .withColumn("_key", F.concat_ws("\x1f", "src", "relationship", "dst"))
            )
            sink = incremental_dedup_sink(self.server.store, "_key", "_key", emit, lineage=LINEAGE)
            with tr.span("dedup.incremental"):
                sink(edges, batch_id)
            with tr.span("layout.absorb"):
                # readers may still scan absorbed landing partitions, so
                # they are kept (the documented long-lived-reader setting)
                absorbed = absorb_landing(
                    spark, table, min_batches=P.UPDATE_ABSORB_MIN_BATCHES,
                    incremental=True, delete_absorbed=False,
                )
        done = time.time()
        with self.lock:
            for k in files:
                self.landed[k] = done
            self.batches.append({"id": batch_id, "files": len(files), "rows": landed_rows[0],
                                 "s": time.perf_counter() - t0, "absorb": absorbed})

    def start(self) -> None:
        schema = ", ".join(f"{c} string" for c in gen.RECORD_COLUMNS) + ", file_no int"
        self.query = (
            self.run.spark.readStream.schema(schema).json(self.inbox)
            .writeStream.foreachBatch(self.foreach_batch)
            .trigger(processingTime=f"{P.UPDATE_TRIGGER_S} seconds")
            .option("checkpointLocation", self.run.path("stream-ckpt"))
            .start()
        )

    def wait_landed(self, k: int, timeout: float) -> bool:
        t_end = time.time() + timeout
        while time.time() < t_end:
            with self.lock:
                if k in self.landed:
                    return True
            if self.query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.query.exception()}")
            time.sleep(0.05)
        return False

    def generator(self, files: list[list[dict]], t0: float) -> None:
        """Open loop: file ``1 + j`` is due at ``t0 + j * period`` and is
        dropped then, however far behind the stream is."""
        for j, recs in enumerate(files):
            due = t0 + j * P.UPDATE_FILE_EVERY_S
            if self.stop_gen.wait(max(0.0, due - time.time())):
                return
            self.drop(1 + j, recs, due)
            with self.lock:
                self.n_files = 1 + j


def run_update(run: Run) -> tuple[dict, dict]:
    t = time.perf_counter()
    g = Graph(run.seed)
    clients = [
        gen.query_schedule(run.seed, c, 4000, g.titles, g.artists, g.vocab)
        for c in range(P.SERVE_CLIENTS)
    ]
    # files fall due inside the window, the last one period before its end
    n_timed = int(run.seconds / P.UPDATE_FILE_EVERY_S)
    files = stream_records(run.seed, n_timed + 1)  # file 0 is the warm-up drop
    run.gen_s = time.perf_counter() - t

    spark_s = run.start_spark()
    run.describe_env()
    srv = Server(run, g)
    t0 = time.perf_counter()
    with run.tracer.span("setup.prepare"):
        srv.prepare(run.path("serve"))
    prep_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with run.tracer.span("setup.warmup"):
        ingest = Ingest(run, srv)
        ingest.start()
        ingest.drop(0, files[0], time.time())
        for kind, arg in (("lookup", g.titles[0]), ("khop", g.artists[0]),
                          ("text", " ".join(g.vocab[:2])), ("knn", g.titles[0])):
            srv.query(kind, arg, run.tracer.new_trace())
        if not ingest.wait_landed(0, 120):
            raise RuntimeError("warm-up micro-batch did not land within 120 s")
    warm_s = time.perf_counter() - t0
    setup_s = spark_s + prep_s + warm_s

    # -- timed window ------------------------------------------------------
    gens0 = set(os.listdir(srv.table))
    since = time.perf_counter()
    job0, mc = run.last_job_id(), run.collector()
    calls0 = {k: v.value for k, v in ingest.counters.items()}
    n_batches0 = len(ingest.batches)
    results: list[list[tuple]] = [[] for _ in range(P.SERVE_CLIENTS)]
    errors: list[str] = []
    t_start = time.perf_counter()
    t_end = t_start + run.seconds

    def client(c: int) -> None:
        i = 0
        while time.perf_counter() < t_end:
            kind, arg = clients[c][i]
            q0 = time.perf_counter()
            try:
                ans = srv.query(kind, arg, run.tracer.new_trace())
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
                ans = None
                errors.append(f"{kind}({arg!r}): {type(exc).__name__}: {exc}"[:300])
            results[c].append((kind, arg, time.perf_counter() - q0, ans))
            i += 1

    gen_thread = threading.Thread(target=ingest.generator, args=(files[1:], time.time()))
    threads = [threading.Thread(target=client, args=(c,)) for c in range(P.SERVE_CLIENTS)]
    with timed_materialize(run):
        gen_thread.start()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
    window_s = time.perf_counter() - t_start
    spark_delta = mc.finish("window")
    jobs = run.last_job_id() - job0
    ingest.stop_gen.set()
    gen_thread.join()

    # the stream must catch up with every dropped file
    n_files = ingest.n_files
    run.check(ingest.wait_landed(n_files, 120), "stream: dropped files not landed within 120 s")
    ingest.query.stop()
    fresh = [ingest.landed[k] - ingest.due[k] for k in range(1, n_files + 1) if k in ingest.landed]
    c_llm = {k: v.value - calls0[k] for k, v in ingest.counters.items()}
    batches = ingest.batches[n_batches0:]

    # -- checks --------------------------------------------------------------
    queries = [q for rs in results for q in rs]
    for e in errors:
        run.check(False, e)
    dropped = files[: n_files + 1]
    verify_queries(run, g, queries, dropped)
    verify_live_table(run, srv, g, dropped)

    lat = [q[2] for q in queries]
    p50_s, mean_s, by_kind_s = mix_latency(queries)
    rows_in_window = sum(b["rows"] for b in batches)
    run.record.update(
        load=f"closed loop, {P.SERVE_CLIENTS} clients; open-loop writer, one file per"
        f" {P.UPDATE_FILE_EVERY_S} s of {P.UPDATE_RECORDS_PER_FILE} records",
        graph_edges=len(g.edges), docs=len(g.docs), vectors=len(g.vectors),
        working_set_bytes=dir_bytes(srv.table) + dir_bytes(srv.text_root) + dir_bytes(srv.ivf_path),
        queries=len(lat), query_kinds={k: sum(1 for q in queries if q[0] == k) for k in sorted(set(P.QUERY_MIX))},
        query_p50_ms=p50_s * 1000, query_p50_unweighted_ms=median(lat) * 1000,
        query_median_ms_by_kind={k: v * 1000 for k, v in by_kind_s.items()},
        query_p90_ms=percentile(lat, 90) * 1000, query_p90_valid=len(lat) >= 100,
        queries_per_s=P.SERVE_CLIENTS / mean_s,
        spark_s=spark_s, prep_s=prep_s, warmup_s=warm_s,
        files_dropped=n_files, generator_lateness_max_s=max(ingest.lateness, default=0.0),
        freshness_p50_s=median(fresh) if fresh else None, freshness_samples=len(fresh),
        micro_batches=len(batches), ingest_rows_per_s=rows_in_window / window_s,
        offered_records_per_s=P.UPDATE_RECORDS_PER_FILE / P.UPDATE_FILE_EVERY_S,
    )
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (p50_s * 1000, "ms"),
        "throughput_per_s": (P.SERVE_CLIENTS / mean_s, "1/s"),
    }
    layers = {}
    if run.trace:
        absorbed_bytes = sum(
            dir_bytes(os.path.join(srv.table, d)) for d in set(os.listdir(srv.table)) - gens0
            if d.startswith("gen-")
        )
        layers = update_layers(run, srv, queries, since, spark_delta, jobs, batches, fresh,
                               window_s, c_llm, absorbed_bytes)
    return e2e, layers


def mix_latency(queries) -> tuple[float, float, dict]:
    """Median and mean query latency at the nominal mix, and each
    kind's median. Each kind's samples give a piecewise-linear CDF
    through ``(x_i, (i - 0.5) / n)``; the mix's CDF is their sum
    weighted by the kinds' shares of ``params.QUERY_MIX``, and the
    median is where it reaches 0.5. So a run that happens to finish one
    more slow query than another does not shift the figures, and the
    median moves smoothly with the samples around it."""
    share = {k: P.QUERY_MIX.count(k) / len(P.QUERY_MIX) for k in set(P.QUERY_MIX)}
    by_kind: dict[str, list[float]] = {}
    for kind, _arg, lat, _ans in queries:
        by_kind.setdefault(kind, []).append(lat)
    if set(by_kind) != set(share):
        raise RuntimeError(f"window too short: no sample of {set(share) - set(by_kind)}")
    curves = {
        k: (np.sort(xs), (np.arange(len(xs)) + 0.5) / len(xs)) for k, xs in by_kind.items()
    }

    def cdf(x: float) -> float:
        return sum(share[k] * np.interp(x, xs, ps, left=0.0, right=1.0)
                   for k, (xs, ps) in curves.items())

    lo, hi = min(xs[0] for xs, _ in curves.values()), max(xs[-1] for xs, _ in curves.values())
    for _ in range(60):
        mid = (lo + hi) / 2
        lo, hi = (lo, mid) if cdf(mid) >= 0.5 else (mid, hi)
    mean = sum(share[k] * sum(xs) / len(xs) for k, xs in by_kind.items())
    return hi, mean, {k: median(xs) for k, xs in sorted(by_kind.items())}


def verify_queries(run: Run, g: Graph, queries, dropped: list[list[dict]]) -> None:
    """Lookups and 2-hop answers against Python recomputation — bounded
    below by the base graph and above by the graph with every dropped
    file, since the live table grows during the run; BM25 against
    DuckDB; knn against exact NumPy cosine, with a recall floor."""
    import duckdb
    import pandas as pd

    base = g.edges
    final = set(base)
    for recs in dropped:
        final |= stream_edges(recs)
    by_src_base, by_src_final = _by_src(base), _by_src(final)
    con = duckdb.connect()
    con.register("docs_pdf", pd.DataFrame(g.docs))
    con.execute("CREATE TABLE docs AS SELECT * FROM docs_pdf")
    titles = list(g.vectors)
    pos = {t: i for i, t in enumerate(titles)}
    mat = np.array([g.vectors[t] for t in titles])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    recalls = []
    bm25: dict[str, list] = {}
    for kind, arg, _lat, ans in queries:
        if ans is None:
            continue
        if kind == "lookup":
            lo, hi = set(by_src_base.get(arg, [])), set(by_src_final.get(arg, []))
            run.check(lo <= set(ans) <= hi and len(ans) == len(set(ans)), f"lookup {arg!r}")
        elif kind == "khop":
            lo, hi = khop_edges(base, arg), khop_edges(final, arg)
            ok = lo <= set(ans) <= hi and len(ans) == len(set(ans))
            run.check(ok, f"khop {arg!r}: {len(ans)} edges, expected {len(lo)}..{len(hi)}")
        elif kind == "text":
            if arg not in bm25:
                bm25[arg] = checks.bm25_duckdb(con, arg, P.BM25_K)
            run.check(checks.same_topk(ans, bm25[arg]), f"bm25 {arg!r}")
        else:
            q = np.array(g.vectors[arg])
            sims = mat @ (q / np.linalg.norm(q))
            exact = {titles[i] for i in np.argsort(-sims, kind="stable")[: P.KNN_K]}
            recalls.append(len({i for i, _ in ans} & exact) / P.KNN_K)
            # scores are cosine rounded to 4 dp
            ok = len(ans) == P.KNN_K and all(abs(s - sims[pos[i]]) < 6e-5 for i, s in ans)
            run.check(ok, f"knn {arg!r}: wrong scores")
    con.close()
    if recalls:
        mean = sum(recalls) / len(recalls)
        run.record["knn_recall_at_k"] = mean
        run.check(mean >= P.KNN_RECALL_FLOOR, f"knn recall@{P.KNN_K} {mean:.3f} below floor")


def _by_src(edges) -> dict[str, list]:
    out: dict[str, list] = {}
    for e in edges:
        out.setdefault(e[0], []).append(e)
    return out


def khop_edges(edges, source: str, k: int = 2) -> set:
    """Edges of the subgraph induced by the ≤k-hop undirected
    neighbourhood of ``source``."""
    adj: dict[str, set] = {}
    for s, d, _ in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    seen, frontier = {source}, {source}
    for _ in range(k):
        frontier = {n for v in frontier for n in adj.get(v, ())} - seen
        seen |= frontier
    return {e for e in edges if e[0] in seen and e[1] in seen}


def verify_live_table(run: Run, srv: Server, g: Graph, dropped: list[list[dict]]) -> None:
    """After the run the live table holds the base graph plus every
    dropped record's triplets, each exactly once."""
    got = [(r["src"], r["dst"], r["relationship"]) for r in srv.edges_df().collect()]
    want = set(g.edges)
    for recs in dropped:
        want |= stream_edges(recs)
    missing, extra = sorted(want - set(got)), sorted(set(got) - want)
    run.check(len(got) == len(set(got)), f"live table holds {len(got) - len(set(got))} duplicate rows")
    run.check(
        not missing and not extra,
        f"live table differs from dropped triplets: {len(missing)} missing"
        f" (e.g. {missing[:1]}), {len(extra)} unexpected (e.g. {extra[:1]})",
    )


def update_layers(run, srv, queries, since, d, jobs, batches, fresh, window_s, c_llm,
                  absorbed_bytes) -> dict:
    agg = run.tracer.by_name(since)
    med = lambda name: agg.get(name, {}).get("median_s", 0.0)  # noqa: E731
    nq = max(1, len(queries))
    nb = max(1, len(batches))
    layers = {
        "layout.lookup_ms": (med("layout.lookup") * 1000, "ms"),
        "text.bm25_ms": (med("text.bm25") * 1000, "ms"),
        "similarity.knn_ms": (med("similarity.knn") * 1000, "ms"),
        "similarity.recall_at_k": (run.record.get("knn_recall_at_k", 0.0), "frac"),
        "graph_algos.khop_ms": (med("graph_algos.khop") * 1000, "ms"),
        "layout.landing_append_s": (med("layout.landing_append"), "s"),
        "layout.absorb_s": (med("layout.absorb"), "s"),
        "layout.absorb_bytes_written": (absorbed_bytes, "B"),
        "dedup.incremental_s": (med("dedup.incremental"), "s"),
        "streaming.batches": (len(batches), "count"),
        "streaming.batch_s": (median([b["s"] for b in batches]) if batches else 0.0, "s"),
        "streaming.rows_per_batch": (sum(b["rows"] for b in batches) / nb, "count"),
        "streaming.freshness_p50_s": (median(fresh) if fresh else 0.0, "s"),
        "streaming.ingest_rows_per_s": (sum(b["rows"] for b in batches) / window_s, "1/s"),
        "llm_client.calls": (c_llm["calls"], "count"),
        "llm_client.retries": (c_llm["retries"], "count"),
        "llm_client.wait_s": (c_llm["wait_s"], "s"),
        "llm_client.inflight_mean": (c_llm["inflight_sum"] / max(1, c_llm["calls"]), "count"),
        "llm_client.parse_yield": (c_llm["yielding"] / max(1, c_llm["calls"]), "frac"),
        "materialize.calls": (agg.get("materialize", {}).get("n", 0) / nq, "count"),
        "materialize.s": (agg.get("materialize", {}).get("total_s", 0.0) / nq, "s"),
        **spark_layers(d, jobs, nq),
    }
    layers.update(probe_queries(run, srv))
    return layers


def probe_queries(run: Run, srv: Server) -> dict:
    """After the window, one query of each kind at a time, so Spark's
    counters can be attributed to it: jobs and input bytes per query."""
    g, out = srv.g, {}
    for kind, arg in (("lookup", g.titles[1]), ("text", " ".join(g.vocab[2:4])),
                      ("khop", g.artists[1]), ("knn", g.titles[1])):
        job0, mc = run.last_job_id(), run.collector()
        srv.query(kind, arg, run.tracer.new_trace())
        time.sleep(0.2)  # let the listener bus deliver the task metrics
        d = mc.finish(kind)
        jobs = run.last_job_id() - job0
        if kind == "lookup":
            out["layout.input_bytes_per_lookup"] = (d["input_bytes"], "B")
            out["layout.jobs_per_lookup"] = (jobs, "count")
        elif kind == "text":
            out["text.input_bytes_per_query"] = (d["input_bytes"], "B")
            out["text.jobs_per_query"] = (jobs, "count")
        elif kind == "khop":
            out["graph_algos.khop_jobs"] = (jobs, "count")
        else:
            out["similarity.jobs_per_query"] = (jobs, "count")
    return out
