"""Unit tests for the iterative DataFrame graph algorithms."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import (
    connected_components,
    pagerank,
    symmetrize,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_symmetrize(spark):
    e = _edges(spark, [("a", "b"), ("b", "a"), ("b", "c")])
    got = sorted(tuple(r) for r in symmetrize(e).collect())
    assert got == [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")]


def test_connected_components_two_islands(spark):
    # chain a-b-c-d (diameter 3, needs >1 iteration) and island x-y
    e = _edges(spark, [("b", "a"), ("c", "b"), ("d", "c"), ("y", "x")])
    comp = {r["id"]: r["comp"] for r in connected_components(e).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_connected_components_always_weak(spark):
    # edges are symmetrized internally: a->b, c->b is ONE weak component
    e = _edges(spark, [("a", "b"), ("c", "b")])
    comp = {r["id"]: r["comp"] for r in connected_components(e).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a"}


def test_pagerank_star(spark):
    # hub-and-spoke: the hub receives all spoke mass
    e = _edges(spark, [("s1", "hub"), ("s2", "hub"), ("s3", "hub")])
    pr = {r["id"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
    assert pr["hub"] > pr["s1"] == pr["s2"] == pr["s3"]
    # simple variant drops dangling mass: total stays <= 1
    assert sum(pr.values()) <= 1.0 + 1e-9


def test_pagerank_exact_matches_float(spark):
    """Integer-scaled exact mode tracks the float path to ~n/scale and
    rejects damping that isn't 2-decimal."""
    import pytest

    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
    )
    flt = {r["id"]: r["rank"] for r in pagerank(e, iterations=8).collect()}
    ex = {
        r["id"]: r["rank"]
        for r in pagerank(e, iterations=8, exact_scale=10**12).collect()
    }
    assert set(flt) == set(ex)
    for k in flt:
        assert abs(flt[k] - ex[k]) < 1e-9, k
    with pytest.raises(ValueError):
        pagerank(e, iterations=1, damping=0.853, exact_scale=10**12)


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by nothing: every vertex must adopt its
    clique's smallest id; determinism across reruns."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z")],
        "src string, dst string",
    )
    got = {r["id"]: r["label"] for r in label_propagation(edges, max_iter=5).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}
    again = {r["id"]: r["label"] for r in label_propagation(edges, max_iter=5).collect()}
    assert got == again


def test_triangle_count_known_graph(spark):
    """K4 has exactly 4 triangles; adding a pendant edge adds none."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import triangle_count

    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    edges = spark.createDataFrame(k4 + [("d", "e")], "src string, dst string")
    assert triangle_count(edges).head()["n_triangles"] == 4
    # direction / duplicate edges must not change the count
    rev = spark.createDataFrame(
        [(b, a) for a, b in k4] + k4, "src string, dst string"
    )
    assert triangle_count(rev).head()["n_triangles"] == 4


def test_connected_components_strict_raises_on_nonconvergence(spark, monkeypatch):
    import pytest

    from big_data___knowledge_graph_construction_with_llm_spark.operators import graph_algos

    # chain a-b-c-d-e has diameter 4; max_iter=1 cannot converge
    e = _edges(spark, [("b", "a"), ("c", "b"), ("d", "c"), ("e", "d")])
    # the driver path (5 edges ≤ DRIVER_CC_MAX_EDGES) is exact whatever
    # max_iter says: no raise, full components
    got = connected_components(e, max_iter=1, strict=True)
    assert {r["id"]: r["comp"] for r in got.collect()} == {
        v: "a" for v in "abcde"
    }
    # the loop (bound at 0) is what max_iter/strict govern
    monkeypatch.setattr(graph_algos, "DRIVER_CC_MAX_EDGES", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iter=1, strict=True)
    # non-strict: partial labels + warning, no raise
    got = connected_components(e, max_iter=1)
    assert got.count() == 5


def test_connected_components_null_endpoints_same_on_both_paths(
    spark, monkeypatch
):
    """A NULL endpoint links nothing on either path; it comes out as a
    NULL id carrying the smallest label among its non-NULL neighbours."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators import graph_algos

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (5, None), (None, 7), (7, 8), (None, None),
         (9, 9), (3, None)],
        "src long, dst long",
    )
    driver = sorted(connected_components(e).collect(), key=str)
    monkeypatch.setattr(graph_algos, "DRIVER_CC_MAX_EDGES", 0)
    loop = sorted(connected_components(e).collect(), key=str)
    assert driver == loop
    assert {r["id"]: r["comp"] for r in driver} == {
        1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 8: 7, 9: 9, None: 1
    }


def test_observed_long_falls_back_on_pyspark_exception():
    """A pyspark-wrapped failure reading the observed metric costs one
    fallback probe instead of crashing the caller."""
    from pyspark.errors import PySparkRuntimeError

    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import (
        _observed_long,
    )

    class _Jo:
        def getOrEmpty(self):
            raise PySparkRuntimeError("observation unreadable")

    class _Obs:
        _jo = _Jo()

    assert _observed_long(_Obs(), "n", lambda: 7) == 7


def test_degree_orientation_bounds_star_wedges(spark):
    """Star K1,n is the skew pathology: with the center mid-id, id-ordered
    wedges are |lower|×|higher| ≈ n²/4, while degree-ordering points every
    edge AT the hub (out-degree ≤ 1 everywhere) so wedge count is 0."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import (
        _degree_oriented,
        triangle_count,
    )

    center = 50
    leaves = [i for i in range(10)] + [100 + i for i in range(10)]
    e = spark.createDataFrame(
        [(min(l, center), max(l, center)) for l in leaves], "src long, dst long"
    )
    canon = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    o = _degree_oriented(canon)
    # every edge oriented leaf -> hub
    assert {r["dst"] for r in o.collect()} == {center}
    x, y = o.alias("x"), o.alias("y")
    wedges = x.join(y, F.col("x.src") == F.col("y.src")).filter(
        F.col("x.dst_rank") < F.col("y.dst_rank")
    )
    assert wedges.count() == 0  # id-ordering would build 100 wedges here
    assert triangle_count(e).head()["n_triangles"] == 0


def test_triangle_count_skewed_graph_correct(spark):
    """Hub + triangles hanging off it: orientation must not change the
    answer. Hub h connects to all of a,b,c,d; extra edges a-b and c-d
    close exactly 2 triangles through the hub."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import triangle_count

    h, a, b, c, d = 0, 1, 2, 3, 4
    e = spark.createDataFrame(
        [(h, a), (h, b), (h, c), (h, d), (a, b), (c, d)], "src long, dst long"
    )
    assert triangle_count(e).head()["n_triangles"] == 2


def test_k_core_peels_to_triangle(spark):
    """Triangle + pendant chain: the 2-core is exactly the triangle, and
    peeling cascades down the chain (multiple iterations needed)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import k_core

    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"), ("e", "f")],
    )
    core = k_core(e, k=2)
    got = sorted(tuple(r) for r in core.collect())
    assert got == [
        ("a", "b"), ("a", "c"), ("b", "a"), ("b", "c"), ("c", "a"), ("c", "b"),
    ]
    # 4-core of a graph with max degree 3 is empty
    assert k_core(e, k=4).count() == 0
    import pytest

    with pytest.raises(ValueError):
        k_core(e, k=0)


def test_resolve_entities_clusters_and_covers_all(spark):
    """Near-identical names collapse to the min representative; distinct
    names map to themselves; chains resolve through CC (A~B~C with A,C
    not directly within the edit bound)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph import resolve_entities

    rows = [
        ("Albrecht Duerer",),
        ("Albrecht Durer",),     # edit 1 of Duerer
        ("Albrecht Durero",),    # edit 1 of Durer, edit 2 of Duerer
        ("Tiziano",),
        ("tiziano",),            # case-insensitive edit 0
        ("Rembrandt",),
    ]
    df = spark.createDataFrame(rows, "id string")
    got = {r["id"]: r["canonical"] for r in resolve_entities(df, max_edit=1).collect()}
    # chain resolves into ONE cluster via CC even though ends are edit-2 apart
    assert (
        got["Albrecht Duerer"] == got["Albrecht Durer"] == got["Albrecht Durero"]
        == "Albrecht Duerer"
    )
    assert got["Tiziano"] == got["tiziano"] == "Tiziano"
    assert got["Rembrandt"] == "Rembrandt"  # unmatched -> itself


def test_apply_canonical_rewrites_edges(spark):
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph import (
        apply_canonical,
        resolve_entities,
    )

    edges = spark.createDataFrame(
        [("Albrecht Durer", "Melencolia I", "created"),
         ("Albrecht Duerer", "Rhinoceros", "created"),
         ("Rembrandt", "Night Watch", "created")],
        "src string, dst string, relationship string",
    )
    verts = edges.select(F.col("src").alias("id")).union(
        edges.select("dst")
    ).distinct()
    mapping = resolve_entities(verts, max_edit=1)
    out = {(r["src"], r["dst"]) for r in apply_canonical(edges, mapping).collect()}
    # both Duerer spellings now share one canonical source id
    assert ("Albrecht Duerer", "Melencolia I") in out
    assert ("Albrecht Duerer", "Rhinoceros") in out
    assert ("Rembrandt", "Night Watch") in out


def test_default_entity_block_splits_skewed_names(spark):
    """The composite default block key must split a skewed name set (all
    sharing one first letter) into many bounded blocks — the old
    first-character default put all of these in ONE block, making the
    candidate join quadratic in the whole set."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph import default_entity_block

    rows = [(f"S{chr(97 + i % 26)}{'x' * (i % 40)}name{i}",) for i in range(400)]
    df = spark.createDataFrame(rows, "id string")
    sizes = [
        r["n"]
        for r in df.select(default_entity_block(F.col("id")).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert len(sizes) > 26          # more blocks than any single-char key can make
    assert max(sizes) < 400 * 0.2   # largest block is a small fraction of the set


def test_default_entity_block_folds_accents(spark):
    """'Émile'/'Emile' must share a block (the miss the old default made)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph import resolve_entities

    df = spark.createDataFrame([("Émile Zola",), ("Emile Zola",)], "id string")
    got = {r["id"]: r["canonical"] for r in resolve_entities(df, max_edit=1).collect()}
    assert got["Émile Zola"] == got["Emile Zola"]


def test_resolve_entities_max_block_skips_oversize(spark):
    """Blocks over max_block are skipped before the join (skew backstop):
    their members map to themselves; small blocks still resolve."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph import resolve_entities

    # 50 near-identical names in one block (the pathology) + one true pair
    big = [(f"aaaaname{i:02d}",) for i in range(50)]
    small = [("Rembrandt",), ("Rembrandtt",)]
    df = spark.createDataFrame(big + small, "id string")
    got = {
        r["id"]: r["canonical"]
        for r in resolve_entities(df, max_edit=1, max_block=10).collect()
    }
    assert all(got[n] == n for (n,) in big)        # capped block: self-mapped
    assert got["Rembrandtt"] == "Rembrandt"        # uncapped block still resolves
    assert len(got) == 52                          # coverage: every vertex mapped


def test_default_entity_block_folds_late_alphabet_accents(spark):
    """Regression: the fold table must stay positionally aligned — a
    length drift shifts every mapping after the drift point, so pin the
    chars PAST the first vowels (ú, ç, ñ) explicitly."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph import default_entity_block

    pairs = [("Núñez", "Nunez"), ("Çelik", "Celik"), ("Über", "Uber")]
    rows = [(n,) for p in pairs for n in p]
    df = spark.createDataFrame(rows, "id string")
    keys = {
        r["id"]: r["b"]
        for r in df.select("id", default_entity_block(F.col("id")).alias("b")).collect()
    }
    for accented, plain in pairs:
        assert keys[accented] == keys[plain], (accented, keys)


def test_k_hop_distances_bfs(spark):
    """Min hop distance from a source set: levels in order (diamond
    counts once at its shortest distance), directed vs undirected
    expansion, k bound respected, unreachable vertices absent."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import k_hop_distances

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (6, 1), (7, 8)],
        "src long, dst long",
    )
    src = spark.createDataFrame([(1,)], "id long")
    got = {
        r["id"]: r["dist"]
        for r in k_hop_distances(edges, src, k=2).collect()
    }
    # diamond: 4 reached once at its min distance; 5 is 3 hops (cut);
    # 6 points AT 1 (directed: not reached); 7,8 disconnected
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}
    undirected = {
        r["id"]: r["dist"]
        for r in k_hop_distances(edges, src, k=1, directed=False).collect()
    }
    assert undirected == {1: 0, 2: 1, 3: 1, 6: 1}
    zero = {r["id"]: r["dist"] for r in k_hop_distances(edges, src, k=0).collect()}
    assert zero == {1: 0}


def test_k_hop_subgraph_induced_edges(spark):
    """Induced neighborhood subgraph: only edges with both endpoints in
    reach survive, edge properties pass through, far components drop."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import k_hop_subgraph

    edges = spark.createDataFrame(
        [(1, 2, "knows"), (2, 3, "likes"), (3, 9, "far"), (7, 8, "other")],
        "src long, dst long, rel string",
    )
    src = spark.createDataFrame([(1,)], "id long")
    got = sorted(
        (r["src"], r["dst"], r["rel"])
        for r in k_hop_subgraph(edges, src, k=2).collect()
    )
    # 3 is reachable at 2 hops; 9 is 3 hops away so (3,9) has one
    # endpoint outside the neighborhood; (7,8) is disconnected
    assert got == [(1, 2, "knows"), (2, 3, "likes")]


def test_k_core_drops_self_loops_and_null_edges(spark):
    """Simple-graph contract: a vertex whose only edge is a self-loop is
    not in any 1-core, and a null-endpoint row is not an edge (it must
    not prop up the degree of the endpoint it does have)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import k_core

    edges = spark.createDataFrame(
        [(0, 0), (None, 5), (1, 2)], "src long, dst long"
    )
    got = {(r["src"], r["dst"]) for r in k_core(edges, 1).collect()}
    assert got == {(1, 2), (2, 1)}


def test_pagerank_invariant_to_checkpoint_cadence(spark):
    """r14: the lineage-cut cadence is a pure execution knob — exact-mode
    ranks must be bit-identical for every checkpoint_every value
    (including 'only at the end')."""
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
    )
    want = sorted(
        tuple(r)
        for r in pagerank(
            e, iterations=7, exact_scale=10**12, checkpoint_every=1
        ).collect()
    )
    for k in (3, 7, 100):
        got = sorted(
            tuple(r)
            for r in pagerank(
                e, iterations=7, exact_scale=10**12, checkpoint_every=k
            ).collect()
        )
        assert got == want, f"checkpoint_every={k} changed the ranks"


def test_pagerank_handles_genuine_self_loop(spark):
    """r14: the zero-weight self-edges the loop shape adds must not
    collide with a REAL self-loop in the input — the loop keeps its
    mass contribution and the vertex count stays the true one."""
    e = _edges(spark, [("a", "a"), ("a", "b"), ("b", "a")])
    ex = {
        r["id"]: r["rank"]
        for r in pagerank(e, iterations=4, exact_scale=10**12).collect()
    }
    flt = {r["id"]: r["rank"] for r in pagerank(e, iterations=4).collect()}
    assert set(ex) == {"a", "b"}
    for k in ex:
        assert abs(ex[k] - flt[k]) < 1e-6
    # with damping the total never exceeds 1 for a loop-closed graph
    assert sum(ex.values()) <= 1.0 + 1e-9


def test_connected_components_with_self_loop_and_dst_only_vertex(spark):
    """r14: the self-edge-augmented propagation must keep covering
    dst-only vertices and tolerate real self-loops."""
    e = _edges(spark, [("b", "b"), ("c", "b"), ("d", "c"), ("z", "y")])
    comp = {r["id"]: r["comp"] for r in connected_components(e).collect()}
    assert comp == {"b": "b", "c": "b", "d": "b", "y": "y", "z": "y"}
