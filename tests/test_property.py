"""Property-based tests (SURVEY.md §5.4): normalizer idempotence (the
reference double-normalizes harmlessly — made a law here), tolerant-JSON
agreement with strict parsing on valid input, dedup idempotence, and
union-fill schema stability.

Each property evaluates ONE Spark job per example set (the strings are
batched into a single DataFrame) so hypothesis stays fast.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data___knowledge_graph_construction_with_llm_spark.functions.json_repair import tolerant_parse
from big_data___knowledge_graph_construction_with_llm_spark.functions.normalize import (
    norm_label,
    norm_relation,
)
from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import exact_dedup
from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import union_fill

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texts = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters=" -_"
        ),
        max_size=24,
    ),
    min_size=1,
    max_size=16,
)


@given(vals=texts)
@settings(**_SETTINGS)
def test_norm_relation_idempotent(spark, vals):
    # the double-apply law (the reference double-normalizes relations,
    # ``…Local/Graph/graph_builder.py:58,81``); norm_label is NOT
    # idempotent for digit-leading words — same as str.capitalize.
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    out = df.select(
        norm_relation("s").alias("r1"),
        norm_relation(norm_relation("s")).alias("r2"),
    )
    for r in out.collect():
        assert r["r1"] == r["r2"]


def test_norm_label_reference_semantics(spark):
    cases = [
        ("oil painting", "OilPainting"),
        ("artist_name", "ArtistName"),
        ("mixed-CASE label", "MixedCaseLabel"),
        ("0-A", "0A"),  # digit-leading word: capitalize leaves '0', lowers rest
    ]
    df = spark.createDataFrame(cases, "s string, want string")
    for r in df.select(norm_label("s").alias("got"), "want").collect():
        assert r["got"] == r["want"]


@given(
    objs=st.lists(
        st.dictionaries(
            st.sampled_from(["k", "v", "x"]),
            st.integers(min_value=-(10**6), max_value=10**6),
            max_size=3,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_tolerant_parse_agrees_with_strict(spark, objs):
    rows = [(json.dumps(o),) for o in objs]
    df = spark.createDataFrame(rows, "js string")
    out = df.select(
        tolerant_parse("js", "k int, v int, x int").alias("t"),
        F.from_json("js", "k int, v int, x int").alias("s"),
    )
    for r in out.collect():
        assert r["t"] == r["s"]


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_exact_dedup_idempotent(spark, rows):
    df = spark.createDataFrame(rows, "k int, s string")
    once = exact_dedup(df)
    twice = exact_dedup(once)
    a = sorted(tuple(r) for r in once.collect())
    b = sorted(tuple(r) for r in twice.collect())
    assert a == b
    assert len(a) == len({tuple(r) for r in rows})


def test_union_fill_schema_stability(spark):
    a = spark.createDataFrame([("x", "1")], "c1 string, c2 string")
    b = spark.createDataFrame([("y", "z")], "c1 string, c3 string")
    out = union_fill([a, b])
    assert set(out.columns) == {"c1", "c2", "c3"}
    rows = {r["c1"]: (r["c2"], r["c3"]) for r in out.collect()}
    assert rows["x"] == ("1", "")
    assert rows["y"] == ("", "z")
    # union again with itself: columns unchanged, fill stays ""
    out2 = union_fill([out, out])
    assert set(out2.columns) == {"c1", "c2", "c3"}
    assert out2.count() == 4


def test_approx_sketches_error_bounds(spark):
    from big_data___knowledge_graph_construction_with_llm_spark.plans import QUERIES
    from tests.conftest import SF_DIR
    from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load

    row = QUERIES["q_approx_sketches"](spark, SF_DIR).head()
    o = load(spark, SF_DIR, "orders")
    exact_n = o.select(F.countDistinct("o_custkey")).head()[0]
    exact_p = o.selectExpr(
        "round(percentile(o_totalprice, 0.5), 2) AS p50",
        "round(percentile(o_totalprice, 0.95), 2) AS p95",
    ).head()
    # r14 shape: exact legs + per-sketch bounded verdicts (the verdicts
    # are what the DuckDB oracle hash-grades via literal TRUEs)
    assert row["cd_cust"] == exact_n
    assert row["p50"] == exact_p["p50"]
    assert row["p95"] == exact_p["p95"]
    assert row["acd_within_3rsd"] is True
    assert row["ap50_within_1pct"] is True
    assert row["ap95_within_1pct"] is True


def test_exact_dedup_by_hash_keeps_min_id(spark):
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import exact_dedup_by_hash

    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa"), (5, "cc"), (6, "bb")],
        "doc_id int, text string",
    )
    out = exact_dedup_by_hash(df, "text", "doc_id")
    got = sorted((r["doc_id"], r["text"]) for r in out.collect())
    assert got == [(1, "aa"), (2, "bb"), (5, "cc")]


def test_repair_json_single_quoted_keys(spark):
    from big_data___knowledge_graph_construction_with_llm_spark.functions.json_repair import repair_json

    rows = [
        ("{'k': 1, 'v': \"it's fine\"}",),   # single-quoted keys, apostrophe value
        ('{"k": 2, "note": "don\'t touch",}',),  # trailing comma + apostrophe
    ]
    df = spark.createDataFrame(rows, "js string")
    out = df.select(
        F.from_json(repair_json("js"), "k int, v string, note string").alias("o")
    ).collect()
    assert out[0]["o"]["k"] == 1 and out[0]["o"]["v"] == "it's fine"
    assert out[1]["o"]["k"] == 2 and out[1]["o"]["note"] == "don't touch"


def test_tolerant_parse_repairs_and_scrapes(spark):
    """The repair/scrape fallbacks must actually fire (from_json PERMISSIVE
    returns an all-null struct on failure, which must NOT win)."""
    from big_data___knowledge_graph_construction_with_llm_spark.functions.json_repair import tolerant_parse

    rows = [
        ('{"k": 1}',),              # strict
        ('{"k": 2,}',),             # needs trailing-comma repair
        ('text before {"k": 4} after',),  # needs object scrape
        ("utter garbage",),         # unparseable -> NULL
    ]
    df = spark.createDataFrame(rows, "js string")
    out = [r["o"] for r in df.select(tolerant_parse("js", "k int").alias("o")).collect()]
    assert out[0]["k"] == 1
    assert out[1]["k"] == 2
    assert out[2]["k"] == 4
    assert out[3] is None or out[3]["k"] is None


@given(
    vals=st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Lu", "Ll", "Nd"),
                whitelist_characters=" .-_@+",
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_redact_pii_idempotent_and_clean(spark, vals):
    """Laws: redaction is idempotent (the [PII] token can never re-match
    any pattern), and redacted text contains no detectable PII."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        pii_counts,
        redact_pii,
    )

    df = spark.createDataFrame([(v,) for v in vals], "s string")
    once = redact_pii("s")
    out = df.select(
        once.alias("r1"), redact_pii(once).alias("r2")
    )
    c = pii_counts(F.col("r1"))
    out = out.select(
        "r1", "r2", (c["email"] + c["phone"] + c["ipv4"]).alias("n_left")
    )
    for r in out.collect():
        assert r["r1"] == r["r2"]
        assert r["n_left"] == 0


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 200), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    n=st.integers(1, 5),
)
@settings(**_SETTINGS)
def test_stratified_sample_laws(spark, rows, n):
    """Laws: output ⊆ input, ≤ n rows per stratum (== n when the stratum
    has ≥ n rows), and determinism."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(rows, "id int, s string")
    out = stratified_sample(df, "s", "id", n)
    got = [(r["id"], r["s"]) for r in out.collect()]
    assert set(got) <= set(rows)
    from collections import Counter

    per = Counter(s for _, s in got)
    full = Counter(s for _, s in rows)
    for stratum, total in full.items():
        assert per[stratum] == min(n, total)
    again = [(r["id"], r["s"]) for r in stratified_sample(df, "s", "id", n).collect()]
    assert sorted(got) == sorted(again)

@given(
    labels=st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=24),
    nb=st.integers(1, 4),
)
@settings(**_SETTINGS)
def test_incremental_dedup_store_wins_law(spark, labels, nb):
    """Law: splitting any corpus into a base batch plus appends and
    deduping incrementally keeps, per text, the row from the EARLIEST
    batch with the MIN id inside it (store-wins-then-min-id) — for
    every corpus and every batch split."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        content_fingerprints,
        exact_dedup_by_hash,
        incremental_dedup,
    )

    rows = [(i, t) for i, t in enumerate(labels)]
    batches = [[r for r in rows if r[0] % nb == b] for b in range(nb)]
    expect: dict[str, int] = {}
    for batch in batches:
        for i, t in sorted(batch):
            expect.setdefault(t, i)

    base_df = spark.createDataFrame(batches[0], "doc_id long, text string") \
        if batches[0] else spark.createDataFrame([], "doc_id long, text string")
    kept = exact_dedup_by_hash(base_df, "text", "doc_id")
    fps = content_fingerprints(kept, "text", "doc_id")
    survivors = {r["doc_id"] for r in kept.collect()}
    for batch in batches[1:]:
        bdf = spark.createDataFrame(batch, "doc_id long, text string") \
            if batch else spark.createDataFrame([], "doc_id long, text string")
        new_rows, new_fps = incremental_dedup(bdf, fps, "text", "doc_id")
        survivors |= {r["doc_id"] for r in new_rows.collect()}
        fps = fps.unionByName(new_fps)
    assert survivors == set(expect.values())

@given(
    rows=st.lists(
        st.tuples(st.integers(0, 200), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    ),
    ra=st.sampled_from([0.0, 0.3, 1.0]),
    rb=st.sampled_from([0.0, 0.5]),
)
@settings(**_SETTINGS)
def test_sample_mixture_equals_per_domain_hash_sample(spark, rows, ra, rb):
    """Law: mixture sampling is exactly the union of hash_sample applied
    per domain at that domain's rate (same buckets) — one CASE
    projection must equal the composed per-domain filters for every
    corpus and rate map; absent domains drop."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import (
        hash_sample,
        sample_mixture,
    )

    df = spark.createDataFrame(rows, "doc_id int, dom string")
    got = sorted(
        r["doc_id"]
        for r in sample_mixture(df, "dom", "doc_id", {"a": ra, "b": rb}).collect()
    )
    expect = sorted(
        r["doc_id"]
        for d, rate in (("a", ra), ("b", rb))
        for r in hash_sample(
            df.filter(F.col("dom") == d), "doc_id", rate
        ).collect()
    )
    assert got == expect

@given(
    ids=st.lists(st.integers(0, 10_000), min_size=2, max_size=25, unique=True),
    epoch=st.integers(0, 3),
)
@settings(**_SETTINGS)
def test_epoch_shuffle_laws(spark, ids, epoch):
    """Laws: an epoch's order is a permutation of the input, stable
    across partitionings, and (for enough rows) different epochs give
    different permutations."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    a = [r["doc_id"] for r in epoch_shuffle(df, "doc_id", epoch).collect()]
    b = [r["doc_id"] for r in epoch_shuffle(df.repartition(5), "doc_id", epoch).collect()]
    assert a == b
    assert sorted(a) == sorted(ids)
    if len(ids) >= 10:
        other = [r["doc_id"] for r in epoch_shuffle(df, "doc_id", epoch + 1).collect()]
        assert other != a  # 1/10! chance of false failure — negligible

@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1, max_size=25,
    ),
    k=st.integers(0, 3),
)
@settings(**_SETTINGS)
def test_k_hop_distances_matches_reference_bfs(spark, edges, k):
    """Law: the distributed frontier BFS agrees with a plain in-memory
    BFS on every random directed graph and bound k."""
    from collections import deque

    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import k_hop_distances

    src_id = edges[0][0]
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    expect = {src_id: 0}
    q = deque([src_id])
    while q:
        u = q.popleft()
        if expect[u] == k:
            continue
        for v in adj.get(u, ()):
            if v not in expect:
                expect[v] = expect[u] + 1
                q.append(v)

    e = spark.createDataFrame(edges, "src long, dst long")
    srcs = spark.createDataFrame([(src_id,)], "id long")
    got = {r["id"]: r["dist"] for r in k_hop_distances(e, srcs, k).collect()}
    assert got == expect

@given(
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=1, max_size=25,
    )
)
@settings(**_SETTINGS)
@pytest.mark.parametrize("path", ["driver", "loop"])
def test_connected_components_matches_union_find(spark, monkeypatch, path, edges):
    """Law: both component paths — the driver-side union-find taken for
    small edge lists and the min-label propagation loop taken above
    ``DRIVER_CC_MAX_EDGES`` (forced here with the bound at 0) — agree
    with an in-memory union-find (labels = component minimum) on every
    random graph."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators import graph_algos
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import connected_components

    if path == "loop":
        monkeypatch.setattr(graph_algos, "DRIVER_CC_MAX_EDGES", 0)

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        parent[find(s)] = find(d)
    groups: dict[int, list[int]] = {}
    for v in parent:
        groups.setdefault(find(v), []).append(v)
    expect = {v: min(vs) for vs in groups.values() for v in vs}

    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["comp"]
        for r in connected_components(e, strict=True).collect()
    }
    assert got == expect

@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1, max_size=20,
    )
)
@settings(**_SETTINGS)
def test_triangle_count_matches_brute_force(spark, edges):
    """Law: degree-oriented triangle counting agrees with brute-force
    enumeration over the undirected simple graph (self-loops and
    parallel/reverse duplicates must not inflate the count)."""
    from itertools import combinations

    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import triangle_count

    und = {frozenset((s, d)) for s, d in edges if s != d}
    verts = {v for e in und for v in e}
    expect = sum(
        1
        for a, b, c in combinations(sorted(verts), 3)
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= und
    )
    e = spark.createDataFrame(edges, "src long, dst long")
    got = triangle_count(e).collect()[0][0]
    assert got == expect

@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1, max_size=15,
    ).filter(lambda es: any(s != d for s, d in es))
)
@settings(**_SETTINGS)
def test_pagerank_int_mode_tracks_float_mode(spark, edges):
    """Law: the integer-scaled (oracle-exact) PageRank agrees with the
    float formulation within the documented per-iteration error bound
    on every random graph."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import pagerank

    e = spark.createDataFrame(edges, "src long, dst long")
    fl = {r["id"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
    ex = {r["id"]: r["rank"]
          for r in pagerank(e, iterations=5, exact_scale=10**12).collect()}
    assert set(fl) == set(ex)
    # int mode truncates each contribution to the 1e-12 grid; 5
    # iterations on a ≤8-vertex graph stay far inside 1e-9 absolute
    assert all(abs(fl[v] - ex[v]) <= 1e-9 for v in fl), (fl, ex)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1, max_size=22,
    ),
    k=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_k_core_matches_reference_peel(spark, edges, k):
    """Law: the iterative DataFrame k-core agrees with an in-memory
    peel on the undirected simple graph for every random input."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import k_core

    und = {frozenset((s, d)) for s, d in edges if s != d}
    adj: dict[int, set[int]] = {}
    for e2 in und:
        a, b = tuple(e2)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]
                changed = True
    expect = {
        (min(a, b), max(a, b))
        for a in adj for b in adj[a]
    }
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in k_core(e, k).collect()
    }
    assert got == expect

@given(
    lefts=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 30)),
        min_size=1, max_size=12,
    ),
    rights=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 30),
                  st.integers(0, 99)),
        min_size=0, max_size=12,
        unique_by=lambda r: (r[0], r[1]),
    ),
)
@settings(**_SETTINGS)
def test_asof_join_matches_reference_lookup(spark, lefts, rights):
    """Law: the union+window as-of join returns, per left row, the value
    of the LATEST right row with right_ts <= left_ts on the same key —
    for every random pair of tables (ties on right_ts excluded by
    construction: per-(key, ts) the right side is unique)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)],
        "k string, lts long, row_id long",
    )
    right = spark.createDataFrame(rights, "k string, rts long, px long") \
        if rights else spark.createDataFrame([], "k string, rts long, px long")
    out = {
        r["row_id"]: r["px"]
        for r in asof_join(left, right, on="k", left_ts="lts",
                           right_ts="rts", right_vals=["px"]).collect()
    }
    for i, (k, t) in enumerate(lefts):
        cands = [(rt, v) for (rk, rt, v) in rights if rk == k and rt <= t]
        expect = max(cands)[1] if cands else None
        assert out[i] == expect, (i, k, t, cands)

@given(
    lens=st.lists(st.integers(1, 9), min_size=1, max_size=20),
    budget=st.integers(4, 12),
)
@settings(**_SETTINGS)
def test_pack_sequences_laws(spark, lens, budget):
    """Laws: packing is a partition of the input (every doc in exactly
    one bin), each bin's total stays within budget + max_doc_len - 1
    (the documented straddle bound), and the assignment is identical
    under repartitioning."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import pack_sequences

    rows = [(i, n) for i, n in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = pack_sequences(df, "doc_id", "n", budget=budget)
    got = {r["doc_id"]: r["seq_id"] for r in out.collect()}
    assert sorted(got) == [i for i, _ in rows]
    totals: dict[int, int] = {}
    for i, n in rows:
        totals[got[i]] = totals.get(got[i], 0) + n
    assert all(t <= budget + max(lens) - 1 for t in totals.values()), totals
    again = {
        r["doc_id"]: r["seq_id"]
        for r in pack_sequences(df.repartition(5), "doc_id", "n", budget=budget).collect()
    }
    assert again == got

@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 50)),
        min_size=1, max_size=15,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 50)),
        min_size=0, max_size=10,
    ),
    salts=st.sampled_from([1, 3, 8]),
)
@settings(**_SETTINGS)
def test_salted_join_equals_plain_join(spark, lefts, rights, salts):
    """Law: salting is a pure physical rewrite — the salted inner join
    returns exactly the rows of the plain join (as a multiset) for
    every input, key distribution, and salt count."""
    from collections import Counter

    from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import salted_join

    a = spark.createDataFrame(lefts, "k long, va long")
    b = spark.createDataFrame(rights, "k long, vb long") \
        if rights else spark.createDataFrame([], "k long, vb long")
    plain = Counter(
        (r["k"], r["va"], r["vb"]) for r in a.join(b, "k").collect()
    )
    salted = Counter(
        (r["k"], r["va"], r["vb"])
        for r in salted_join(a, b, "k", num_salts=salts).collect()
    )
    assert salted == plain


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=0, max_size=8),
        min_size=1, max_size=8,
    ),
    span=st.integers(2, 3),
)
@settings(**_SETTINGS)
def test_repeated_spans_match_reference(spark, docs, span):
    """Law: the distributed repeated-span detector agrees with an
    in-memory reference (per-doc distinct windows, cross-doc distinct
    counts, docs shorter than the span excluded) on random corpora."""
    from collections import defaultdict

    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import repeated_spans

    ref: dict[str, set[int]] = defaultdict(set)
    for i, toks in enumerate(docs):
        if len(toks) < span:
            continue
        for j in range(len(toks) - span + 1):
            ref[" ".join(toks[j:j + span])].add(i)
    expect = {(s, len(ids)) for s, ids in ref.items() if len(ids) >= 2}

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r["span"], r["n_docs"])
        for r in repeated_spans(df, "doc_id", "text", span_tokens=span).collect()
    }
    assert got == expect

@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 40)),
        min_size=1, max_size=20,
        unique=True,
    ),
    k=st.integers(1, 4),
)
@settings(**_SETTINGS)
def test_topk_per_group_matches_reference(spark, rows, k):
    """Law: window top-k per group equals the in-memory sort-and-slice
    for every grouping, k, and value distribution (order_cols carry the
    unique tiebreak the docstring requires)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import topk_per_group

    expect = set()
    for g in {g for g, _ in rows}:
        vals = sorted(v for gg, v in rows if gg == g)
        expect |= {(g, v) for v in vals[:k]}

    df = spark.createDataFrame(rows, "g long, v long")
    got = {
        (r["g"], r["v"])
        for r in topk_per_group(df, ["g"], [F.col("v"), F.col("g")], k).collect()
    }
    assert got == expect


@given(
    facts=st.lists(st.integers(0, 100), min_size=1, max_size=20),
    bounds=st.lists(
        st.tuples(st.integers(0, 100), st.integers(0, 100)),
        min_size=1, max_size=5,
    ),
)
@settings(**_SETTINGS)
def test_range_join_bands_matches_reference(spark, facts, bounds):
    """Law: the broadcast range join returns exactly the half-open
    interval memberships [lo, hi) a nested loop computes, AS A MULTISET
    (facts tagged by index so duplicate values cannot mask a dropped or
    doubled row) — including overlapping bands and empty bands."""
    from collections import Counter

    bands = [(lo, hi, i) for i, (lo, hi) in enumerate(bounds)]
    expect = Counter(
        (fi, b_id)
        for fi, v in enumerate(facts)
        for lo, hi, b_id in bands
        if lo <= v < hi
    )
    f = spark.createDataFrame(
        [(fi, v) for fi, v in enumerate(facts)], "fact_id long, value long"
    )
    b = spark.createDataFrame(bands, "lo long, hi long, band_id long")
    from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import range_join_bands

    got = Counter(
        (r["fact_id"], r["band_id"])
        for r in range_join_bands(f, b, "value").collect()
    )
    assert got == expect

@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc", "dd"]), min_size=0, max_size=6),
        min_size=1, max_size=6,
    )
)
@settings(**_SETTINGS)
def test_unigram_surprisal_matches_reference(spark, docs):
    """Law: per-doc mean NLL under the add-one-smoothed corpus unigram
    LM equals the in-memory computation for every random corpus;
    token-less docs keep a row with n_tokens=0 and null score."""
    import math
    from collections import Counter

    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import unigram_surprisal

    counts = Counter(t for toks in docs for t in toks)
    n_total, v_size = sum(counts.values()), len(counts)
    denom = n_total + v_size

    def ref(toks):
        if not toks:
            return (0, None)
        nll = -sum(math.log((counts[t] + 1) / denom) for t in toks) / len(toks)
        return (len(toks), round(nll, 6))

    df = spark.createDataFrame(
        [(i, " ".join(toks) if toks else None) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_nll"])
        for r in unigram_surprisal(df, "doc_id", "text").collect()
    }
    assert got == {i: ref(toks) for i, toks in enumerate(docs)}


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=8),
        min_size=1, max_size=8,
    ),
    max_size=st.sampled_from([None, 2]),
)
@settings(**_SETTINGS)
def test_encode_documents_order_law(spark, docs, max_size):
    """Law: int encoding preserves token ORDER exactly (the posexplode
    position survives the shuffle) and matches an in-memory reference
    encode — deterministic vocab ids (count desc, token asc), OOV as -1
    with a per-doc count, blank docs as empty arrays — for random
    corpora with and without a truncated vocabulary."""
    from collections import Counter

    from big_data___knowledge_graph_construction_with_llm_spark.operators.text import (
        build_vocab,
        encode_documents,
    )

    counts = Counter(t for toks in docs for t in toks)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    ids = {
        t: i
        for i, (t, _) in enumerate(ranked)
        if max_size is None or i < max_size
    }

    def ref(toks):
        enc = [ids.get(t, -1) for t in toks]
        return (enc, sum(1 for e in enc if e == -1))

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    vocab = build_vocab(df, max_size=max_size)
    got = {
        r["doc_id"]: (list(r["token_ids"]), r["n_oov"])
        for r in encode_documents(df.repartition(5), vocab).collect()
    }
    assert got == {i: ref(toks) for i, toks in enumerate(docs)}


@given(
    lens=st.lists(st.integers(0, 25), min_size=1, max_size=12),
    budget=st.sampled_from([1, 3, 7]),
)
@settings(**_SETTINGS)
def test_chunk_documents_partition_law(spark, lens, budget):
    """Law: chunking partitions each document exactly — per doc the
    chunk sizes sum to n, every chunk is budget-sized except a shorter
    last one, chunk_start is idx*budget, and a ≤-budget (even 0-token)
    doc passes through as one chunk."""
    from collections import defaultdict

    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import chunk_documents

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lens)], "doc_id long, n long"
    )
    by_doc: dict[int, list] = defaultdict(list)
    for r in chunk_documents(df, "n", budget).collect():
        by_doc[r["doc_id"]].append((r["chunk_idx"], r["chunk_start"], r["n"]))
    assert set(by_doc) == set(range(len(lens)))
    for i, n in enumerate(lens):
        chunks = sorted(by_doc[i])
        want_k = max(-(-n // budget), 1)
        assert [c[0] for c in chunks] == list(range(want_k))
        assert all(c[1] == c[0] * budget for c in chunks)
        assert sum(c[2] for c in chunks) == n
        assert all(c[2] == budget for c in chunks[:-1])
        assert 0 <= chunks[-1][2] <= budget


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z"]), min_size=0, max_size=10),
        min_size=1, max_size=6,
    ),
    span=st.integers(2, 3),
)
@settings(**_SETTINGS)
def test_excise_repeated_spans_matches_reference(spark, docs, span):
    """Law: excision removes EXACTLY the token positions covered by some
    cross-doc repeated window, for every corpus — the distributed
    rebuild agrees with an in-memory cover-and-slice reference."""
    from collections import defaultdict

    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        excise_repeated_spans,
    )

    owners: dict[tuple, set[int]] = defaultdict(set)
    for i, toks in enumerate(docs):
        for j in range(max(len(toks) - span + 1, 0)):
            owners[tuple(toks[j:j + span])].add(i)
    repeated = {w for w, ids in owners.items() if len(ids) >= 2}

    def ref(toks):
        cov = set()
        for j in range(max(len(toks) - span + 1, 0)):
            if tuple(toks[j:j + span]) in repeated:
                cov.update(range(j, j + span))
        return " ".join(t for p, t in enumerate(toks) if p not in cov)

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["text"]
        for r in excise_repeated_spans(df, "doc_id", "text", span_tokens=span).collect()
    }
    assert got == {i: ref(toks) for i, toks in enumerate(docs)}


@given(
    corpus=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8),
        min_size=1, max_size=6,
    ),
    bench=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8),
        min_size=1, max_size=3,
    ),
    n=st.integers(2, 3),
)
@settings(**_SETTINGS)
def test_ngram_leaks_match_reference(spark, corpus, bench, n):
    """Law: exact-n-gram contamination counts equal the in-memory
    set-intersection reference (distinct grams per doc vs the pooled
    benchmark gram set) for every corpus/benchmark/n."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import ngram_leaks

    bench_grams = {
        tuple(toks[j:j + n])
        for toks in bench
        for j in range(max(len(toks) - n + 1, 0))
    }

    def hits(toks):
        return len(
            {tuple(toks[j:j + n]) for j in range(max(len(toks) - n + 1, 0))}
            & bench_grams
        )

    cdf = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(corpus)],
        "doc_id long, text string",
    )
    bdf = spark.createDataFrame(
        [(" ".join(toks),) for toks in bench], "text string"
    )
    got = {
        r["doc_id"]: r["n_hits"]
        for r in ngram_leaks(cdf, bdf, "doc_id", "text", n=n).collect()
    }
    assert got == {i: hits(t) for i, t in enumerate(corpus) if hits(t) >= 1}


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["la", "lb", "lc", ""]), min_size=0, max_size=6),
        min_size=1, max_size=6,
    ),
    min_docs=st.integers(2, 3),
)
@settings(**_SETTINGS)
def test_excise_repeated_lines_matches_reference(spark, docs, min_docs):
    """Law: line excision removes exactly the non-blank lines whose
    trimmed text appears in >= min_docs distinct docs, preserving the
    order and the blank lines, for every random corpus."""
    from collections import defaultdict

    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        excise_repeated_lines,
    )

    owners: dict[str, set[int]] = defaultdict(set)
    for i, ls in enumerate(docs):
        for line in ls:
            if line.strip():
                owners[line.strip()].add(i)
    repeated = {l for l, ids in owners.items() if len(ids) >= min_docs}

    def ref(ls):
        return "\n".join(l for l in ls if not (l.strip() and l.strip() in repeated))

    df = spark.createDataFrame(
        [(i, "\n".join(ls)) for i, ls in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["text"]
        for r in excise_repeated_lines(df, "doc_id", "text", min_docs=min_docs).collect()
    }
    assert got == {i: ref(ls) for i, ls in enumerate(docs)}


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 9), st.integers(1, 20)),
        min_size=1, max_size=25,
    ),
    budget=st.integers(1, 150),
    parts=st.sampled_from([1, 4, 16]),
)
@settings(**_SETTINGS)
def test_select_to_token_budget_law(spark, rows, budget, parts):
    """Law: best-first budget selection equals the in-memory
    sort-and-scan (score desc, id tie-break, keep while start < budget)
    for every score distribution, token lengths, budget, and partition
    count — including ties and a single partition."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import (
        select_to_token_budget,
    )

    data = [(i, s, n) for i, (s, n) in enumerate(rows)]
    ordered = sorted(data, key=lambda r: (-r[1], r[0]))
    expect, acc = set(), 0
    for i, _, n in ordered:
        if acc < budget:
            expect.add(i)
        acc += n

    df = spark.createDataFrame(data, "doc_id long, score long, n long")
    got = {
        r["doc_id"]
        for r in select_to_token_budget(
            df, "doc_id", "n", "score", budget, partitions=parts
        ).collect()
    }
    assert got == expect


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 3),                 # key
            st.integers(0, 30),                # ts (seconds)
            st.sampled_from(["a", "b", "c"]),  # type
        ),
        min_size=1, max_size=25,
    ),
    within=st.sampled_from([None, 10]),
)
@settings(**_SETTINGS)
def test_funnel_matches_greedy_reference(spark, events, within):
    """Law: funnel_times equals the in-memory greedy earliest-first
    scan (strict step order, optional whole-funnel horizon measured
    from t1) for every event soup, including ties and repeats."""
    from collections import defaultdict

    from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import (
        funnel_times,
    )

    steps = ["a", "b", "c"]
    by_key = defaultdict(list)
    for k, t, e in events:
        by_key[k].append((t, e))

    def ref(evs):
        out, prev = [], None
        for s in steps:
            cand = [
                t for t, e in evs
                if e == s
                and (prev is None or t > prev)
                and (within is None or not out or t - out[0] <= within)
            ]
            if not cand or (prev is None and s != steps[0]):
                break
            prev = min(cand)
            out.append(prev)
        return tuple(out + [None] * (3 - len(out)))

    expect = {
        k: ref(evs) for k, evs in by_key.items()
        if any(e == "a" for _, e in evs)
    }
    df = spark.createDataFrame(
        [(k, t, e) for k, t, e in events], "k long, tsec long, e string"
    ).select("k", F.col("tsec").cast("timestamp").alias("ts"), "e")
    us = 1_000_000  # operator reports epoch micros
    got = {
        r["k"]: tuple(
            None if t is None else t // us for t in (r["t1"], r["t2"], r["t3"])
        )
        for r in funnel_times(df, "k", "ts", "e", steps, within).collect()
    }
    assert got == expect


@given(
    events=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 40)),  # (key, day offset)
        min_size=1, max_size=25,
    ),
)
@settings(**_SETTINGS)
def test_cohort_retention_matches_reference(spark, events):
    """Law: the retention triangle equals the in-memory computation
    (first-activity week cohort, distinct active keys per elapsed week)
    for every random activity log."""
    import datetime as dt
    from collections import defaultdict

    from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import (
        cohort_retention,
    )

    base = dt.date(2024, 1, 1)  # a Monday — week truncation anchor

    def week_of(off):
        d = base + dt.timedelta(days=off)
        return d - dt.timedelta(days=d.weekday())

    first = {}
    for k, off in events:
        w = week_of(off)
        if k not in first or w < first[k]:
            first[k] = w
    cells = defaultdict(set)
    for k, off in events:
        w = week_of(off)
        cells[(str(first[k]), (w - first[k]).days // 7)].add(k)
    expect = {c: len(ks) for c, ks in cells.items()}

    df = spark.createDataFrame(
        [(k, str(base + dt.timedelta(days=off))) for k, off in events],
        "k long, day string",
    ).select("k", F.col("day").cast("timestamp").alias("ts"))
    got = {
        (str(r["cohort"])[:10], r["periods_since"]): r["n_active"]
        for r in cohort_retention(df, "k", "ts", "week").collect()
    }
    assert got == expect


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["p", "q", "r", "s"]), min_size=3, max_size=8),
        min_size=2, max_size=6,
    ),
)
@settings(**_SETTINGS)
def test_hashed_jaccard_equals_text_jaccard(spark, docs):
    """Law: the store's text-free verify (the shared _set_jaccard over
    _shingle_fps hash arrays) returns exactly the Jaccard the
    string-based verify computes, for every doc pair of every random
    corpus."""
    from itertools import combinations

    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        _set_jaccard,
        _shingle_fps,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(a, b) for a, b in combinations(range(len(docs)), 2)],
        "id_a long, id_b long",
    )
    from_text = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", pairs).collect()
    }
    from_fps = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in _set_jaccard(
            pairs, _shingle_fps(df, "doc_id", "text", 3)
        ).collect()
    }
    assert from_fps == from_text


def test_prune_manifest_soundness_property():
    """Pruning soundness, property-checked in pure python: for random
    integer files and random conjunct predicates, every file that
    CONTAINS a matching row must survive pruning (completeness of the
    kept set; how aggressively non-matching files drop is an
    efficiency property, not correctness)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        prune_manifest_files,
    )

    ops = ["==", "<", "<=", ">", ">="]
    vals = st.integers(min_value=-20, max_value=20)
    file_strat = st.lists(vals, min_size=1, max_size=8)
    pred_strat = st.lists(
        st.tuples(st.sampled_from(["x", "y"]), st.sampled_from(ops), vals),
        min_size=1,
        max_size=3,
    )

    def matches(row, preds):
        import operator as op

        table = {
            "==": op.eq, "<": op.lt, "<=": op.le, ">": op.gt, ">=": op.ge,
        }
        return all(table[o](row[c], v) for c, o, v in preds)

    from big_data___knowledge_graph_construction_with_llm_spark.operators.layout import (
        _dirs_from_file_entries,
        _prune_plan,
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.tuples(file_strat, file_strat), min_size=1, max_size=6), pred_strat)
    def check(files, preds):
        entries = [
            {
                # spread files over two hive dirs so the v2 DIR level
                # actually exercises (below)
                "file": f"p={i % 2}/f{i}",
                "rows": len(xs),
                "stats": {
                    "x": [min(xs), max(xs)],
                    "y": [min(ys), max(ys)],
                },
            }
            # pair x/y values positionally; unequal lengths cycle
            for i, (xs, ys) in enumerate(files)
        ]
        manifest = {
            "version": 2,
            "columns": ["x", "y"],
            "types": {"x": "bigint", "y": "bigint"},
            "n_files": len(entries),
            "total_rows": sum(e["rows"] for e in entries),
            "files": entries,
            "dirs": _dirs_from_file_entries(entries, ["x", "y"]),
        }
        kept = set(prune_manifest_files(manifest, preds))

        # dir-level spans prune first, whole-dir collapse may hand a
        # superset — completeness must still hold
        plan = _prune_plan(None, manifest, preds, gen_dir="unused")
        kept2 = set(plan["files"]) | {
            e["file"]
            for e in entries
            if e["file"].rsplit("/", 1)[0] in set(plan["dirs"])
        }

        for i, (xs, ys) in enumerate(files):
            n = max(len(xs), len(ys))
            rows = [
                {"x": xs[j % len(xs)], "y": ys[j % len(ys)]}
                for j in range(n)
            ]
            if any(matches(r, preds) for r in rows):
                assert f"p={i % 2}/f{i}" in kept, (files[i], preds)
                assert f"p={i % 2}/f{i}" in kept2, (files[i], preds)

    check()
