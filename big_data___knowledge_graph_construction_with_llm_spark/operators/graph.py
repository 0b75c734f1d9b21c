"""Property-graph construction & analytics over the triplet edge table.

The reference materializes its graph into Neo4j (`MERGE` upserts,
``Art-Knowledge-Graph-AWS/GRAPH/graph_builder.py:27-54``;
``Art-Knowledge-Graph-Local/Graph/graph_builder.py:41-93``). The engine
keeps the graph Spark-side as two DataFrames — ``vertices(id, labels)``
and ``edges(src, dst, relationship)`` (GraphFrames convention) — so graph
analytics stay distributed; Neo4j becomes an optional sink
(``sources/neo4j_sink.py`` shape, not required by the harness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def edges_from_triplets(triplets: DataFrame) -> DataFrame:
    """Edge list from the 5-column typed-triplet contract.

    Mirrors the Neo4j edge MERGE (``…AWS/GRAPH/graph_builder.py:40-41``)
    relationally: distinct (src, dst, relationship).
    """
    return (
        triplets.select(
            F.col("subject").alias("src"),
            F.col("object").alias("dst"),
            F.col("relation").alias("relationship"),
        )
        .distinct()
    )


def vertices_from_triplets(triplets: DataFrame) -> DataFrame:
    """Vertex set = subjects ∪ objects with their entity types.

    Mirrors node MERGE keyed on ``name``
    (``…AWS/GRAPH/graph_builder.py:37-38``). One shuffle (the distinct).
    """
    subj = triplets.select(
        F.col("subject").alias("id"), F.col("subject_type").alias("label")
    )
    obj = triplets.select(
        F.col("object").alias("id"), F.col("object_type").alias("label")
    )
    return subj.unionByName(obj).distinct()


def labels_per_entity(vertices: DataFrame) -> DataFrame:
    """One node, all labels seen — relational twin of APOC ``addLabels``
    accumulation (``…AWS/GRAPH/graph_builder.py:43-44``). Output labels are
    a sorted comma-joined string for deterministic comparison."""
    return vertices.groupBy("id").agg(
        F.array_join(F.sort_array(F.collect_set("label")), ",").alias("labels")
    )


def degrees(edges: DataFrame) -> DataFrame:
    """In/out/total degree per vertex; two partial-aggregated counts and a
    full-outer merge — no row explosion."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        out_d.join(in_d, "id", "full_outer")
        .na.fill(0, ["out_degree", "in_degree"])
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def two_hop(edges: DataFrame) -> DataFrame:
    """2-hop edge composition: a→b→c. Self-equi-join on the intermediate
    vertex — Catalyst picks SMJ/BHJ; at 100 TB, pre-bucket the edge table
    on both src and dst so the self-join is co-located."""
    a = edges.alias("a")
    b = edges.alias("b")
    return (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .select(
            F.col("a.src").alias("src"),
            F.col("a.dst").alias("mid"),
            F.col("b.dst").alias("dst"),
        )
    )


# lowercase accented latin chars → ascii fold (applied after lower();
# covers the latin-1 range the reference's art-museum data actually uses)
_ACCENTED = "áàâäãåéèêëíìîïóòôöõúùûüçñÿý"
_FOLDED = "aaaaaaeeeeiiiiooooouuuucnyy"
# translate() maps positionally — a length drift would silently shift
# every mapping after the drift point (ú→o, ç→u, …), missing exactly
# the accent-variant matches the fold exists for
assert len(_ACCENTED) == len(_FOLDED)


def default_entity_block(c: F.Column) -> F.Column:
    """Default blocking key for ``resolve_entities``: accent-folded
    lowercase first-2-characters + length bucket (width 8), e.g.
    ``"ém|1"`` for ``"Émile Zola"`` → ``"em|1"``.

    Why composite: a first-single-character key yields ~26 blocks over an
    entire vertex set, and the within-block candidate join is quadratic
    in the largest block — a foot-gun at corpus scale. Two characters ×
    length bucket multiplies the block count by ~100× and keeps true
    pairs together: an edit-distance-2 pair differs by at most 2 in
    length, so only pairs straddling a bucket boundary AND differing in
    the folded first two characters are missed (document-level recall
    trade every blocking scheme makes; swap in a phonetic key or a
    minhash band over name shingles via ``block_fn`` when that matters).
    Accent folding keeps "Émile"/"Emile" in one block — the miss the
    plain first-character key silently made.
    """
    folded = F.translate(F.lower(c), _ACCENTED, _FOLDED)
    return F.concat(
        F.substring(folded, 1, 2),
        F.lit("|"),
        F.floor(F.length(c) / F.lit(8)).cast("string"),
    )


def resolve_entities(
    vertices: DataFrame,
    id_col: str = "id",
    max_edit: int = 2,
    block_fn=None,
    max_iter: int = 20,
    strict: bool = False,
    max_block: int | None = None,
) -> DataFrame:
    """Entity resolution over the vertex names: blocked fuzzy self-match
    → connected components over the match graph → canonical (min)
    representative per cluster. This is the deterministic version of the
    entity merging the reference delegates to its LLM prompts (same
    entity spelled differently lands as distinct Neo4j nodes there) —
    "Duerer"/"Durer" collapse to one canonical id here before the graph
    is built.

    Returns ``(id, canonical)`` covering EVERY input vertex (unmatched
    vertices map to themselves), ready to rewrite an edge list with two
    broadcast-or-shuffle joins.

    Scale shape: candidate pairs form only inside a block
    (``block_fn(col) -> Column``, default ``default_entity_block`` —
    accent-folded first-2-chars × length bucket; swap in a phonetic key
    or minhash band for real data); verification is the early-exit 3-arg
    ``levenshtein``; the cluster step is the ``connected_components``
    every other component op uses (driver-side union-find while the
    match graph is small, min-label propagation above). Names and ids
    shuffle; nothing quadratic in the table — EXCEPT within a block,
    which is why ``max_block`` exists: blocks larger than it are skipped
    before the self-join (same ``_cap_buckets`` backstop the dedup/LSH
    family uses — a block of a million near-identical names is better
    handled by exact dedup than by a 10¹² levenshtein join). Set it at
    corpus scale; ``None`` keeps exhaustive small-data semantics.

    ``max_iter``/``strict`` pass through to ``connected_components``,
    where they bound only its loop: there a similarity chain longer than
    ``max_iter`` would otherwise resolve
    one logical cluster to several canonicals with only a logged
    warning — ``strict=True`` makes that a hard error.
    """
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import _cap_buckets
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import (
        connected_components,
    )

    if block_fn is None:
        block_fn = default_entity_block
    names = vertices.select(F.col(id_col).alias("_n")).distinct()
    blocked = names.withColumn("_blk", block_fn(F.col("_n")))
    blocked = _cap_buckets(blocked, max_block, ["_blk"])
    a, b = blocked.alias("a"), blocked.alias("b")
    dist = F.levenshtein(
        F.lower(F.col("a._n")), F.lower(F.col("b._n")), max_edit
    )
    pairs = (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._n") < F.col("b._n")),
        )
        .withColumn("_d", dist)
        .filter((F.col("_d") >= 0) & (F.col("_d") <= max_edit))
        .select(F.col("a._n").alias("src"), F.col("b._n").alias("dst"))
    )
    comps = connected_components(pairs, max_iter=max_iter, strict=strict)
    return (
        names.join(comps, names["_n"] == comps["id"], "left")
        .select(
            F.col("_n").alias(id_col),
            F.coalesce(F.col("comp"), F.col("_n")).alias("canonical"),
        )
    )


def apply_canonical(
    edges: DataFrame, mapping: DataFrame, cols: tuple[str, ...] = ("src", "dst")
) -> DataFrame:
    """Rewrite an edge list through a ``resolve_entities`` mapping: each
    endpoint column is replaced by its canonical id (unmapped endpoints
    pass through). One join per endpoint column; the mapping is
    (distinct-entity)-sized, so Catalyst/AQE broadcasts it when it fits
    — at larger scales both joins shuffle on the endpoint key, which
    bucketing the edge table co-locates."""
    out = edges
    for c in cols:
        m = mapping.select(
            F.col("id").alias(c), F.col("canonical").alias(f"_canon_{c}")
        )
        out = (
            out.join(m, c, "left")
            .withColumn(c, F.coalesce(F.col(f"_canon_{c}"), F.col(c)))
            .drop(f"_canon_{c}")
        )
    return out
