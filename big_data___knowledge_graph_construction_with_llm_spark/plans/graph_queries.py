"""Graph-construction & analytics queries (SURVEY.md §2.3/2.4 graph rows).

The triplet source is derived deterministically from the synthetic star
schema (customer —located in→ nation —part of→ region, user —did→
event_type), then the graph operators run on it.

Round 2 note: edge+vertex construction merged into ``q_graph_build`` and
labels+degrees into ``q_entity_profile`` (so the registry fits the
driver's correctness window); ``q_triangle_count`` added (GraphX-style
triangle counting with an exact SQL oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data___knowledge_graph_construction_with_llm_spark.operators.graph import (
    degrees,
    edges_from_triplets,
    labels_per_entity,
    two_hop,
    vertices_from_triplets,
)
from big_data___knowledge_graph_construction_with_llm_spark.operators.graph_algos import (
    connected_components,
    pagerank,
    triangle_count,
)
from big_data___knowledge_graph_construction_with_llm_spark.plans.registry import query
from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load


def _customer_nation_triplets(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("c_name").alias("subject"),
            F.lit("Customer").alias("subject_type"),
            F.lit("located in").alias("relation"),
            F.col("n_name").alias("object"),
            F.lit("Nation").alias("object_type"),
        )
    )


@query(
    "q_graph_build",
    oracle="""
    SELECT DISTINCT 'edge' AS kind, c_name AS a, n_name AS b
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    UNION ALL
    SELECT kind, a, b FROM (
      SELECT DISTINCT 'node' AS kind, c_name AS a, 'Customer' AS b
      FROM customer
      UNION
      SELECT DISTINCT 'node' AS kind, n_name AS a, 'Nation' AS b
      FROM nation JOIN customer ON c_nationkey = n_nationkey
    )
    """,
)
def q_graph_build(spark: SparkSession, sf: str) -> DataFrame:
    """Graph construction from the typed-triplet contract: the edge list
    (relational twin of the Neo4j edge MERGE,
    ``…AWS/GRAPH/graph_builder.py:40-41``) and the vertex set =
    subjects ∪ objects distinct (node MERGE on name,
    ``…AWS/GRAPH/graph_builder.py:37-38``) — both halves of the
    GraphFrames-convention graph in one tagged union."""
    t = _customer_nation_triplets(spark, sf)
    e = edges_from_triplets(t).select(
        F.lit("edge").alias("kind"), F.col("src").alias("a"), F.col("dst").alias("b")
    )
    v = vertices_from_triplets(t).select(
        F.lit("node").alias("kind"), F.col("id").alias("a"), F.col("label").alias("b")
    )
    return e.unionByName(v)


@query(
    "q_entity_profile",
    oracle="""
    WITH e AS (
      SELECT DISTINCT 'u:' || user_id AS src, 't:' || event_type AS dst
      FROM events
    ),
    o AS (SELECT src AS id, count(*) AS out_degree FROM e GROUP BY src),
    i AS (SELECT dst AS id, count(*) AS in_degree  FROM e GROUP BY dst),
    d AS (
      SELECT coalesce(o.id, i.id) AS id,
             coalesce(out_degree, 0) AS out_degree,
             coalesce(in_degree, 0) AS in_degree,
             coalesce(out_degree, 0) + coalesce(in_degree, 0) AS degree
      FROM o FULL OUTER JOIN i ON o.id = i.id
    ),
    l AS (
      SELECT 'u:' || user_id AS id,
             string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS labels
      FROM events
      GROUP BY user_id
    )
    SELECT d.id, l.labels, d.out_degree, d.in_degree, d.degree
    FROM d LEFT JOIN l ON d.id = l.id
    """,
)
def q_entity_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-entity profile: all labels seen per node (APOC ``addLabels``
    accumulation, ``…AWS/GRAPH/graph_builder.py:43-44``) joined with
    in/out/total degree (GraphFrames ``degrees`` shape) — the §2.4
    collect_set and degree rows in one plan. Type-side (``t:``) nodes
    have no labels → NULL."""
    ev = load(spark, sf, "events")
    edges = ev.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
    ).distinct()
    verts = ev.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("id"),
        F.col("event_type").alias("label"),
    )
    prof = degrees(edges).join(labels_per_entity(verts), "id", "left")
    return prof.select("id", "labels", "out_degree", "in_degree", "degree")


@query(
    "q_two_hop",
    oracle="""
    WITH e AS (
      SELECT DISTINCT 'c:' || o_custkey AS src, 'o:' || o_orderkey AS dst
      FROM orders
      UNION ALL
      SELECT DISTINCT 'o:' || l_orderkey AS src, 'p:' || l_partkey AS dst
      FROM lineitem
    )
    SELECT DISTINCT a.src AS src, a.dst AS mid, b.dst AS dst
    FROM e a JOIN e b ON a.dst = b.src
    """,
)
def q_two_hop(spark: SparkSession, sf: str) -> DataFrame:
    """2-hop composition customer→order→part via self-equi-join on the
    namespaced edge table (``MERGE``-derived self-join surface,
    SURVEY §2.3).

    The namespace rides as 2 TAG BITS inside a single long vertex key
    (``c: → 4k+1, o: → 4k+2, p: → 4k+3`` — injective, and every TPC-H
    key fits; even sf100's ~6e9 orderkeys stay far under 2^61) so the
    distinct and the self-join shuffle 8-byte longs instead of 10-14
    byte strings, and the 750k-row string concats happen AFTER the join
    on the 10x-smaller result (r14; measured 3.76s → 2.05s at sf0.1,
    set-identical output). The oracle's string namespaces are rebuilt
    by the final decode projection."""
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    # o_orderkey is unique ⇒ e1 is already distinct: no dedup shuffle.
    e1 = o.select(
        (F.col("o_custkey") * 4 + 1).alias("src"),
        (F.col("o_orderkey") * 4 + 2).alias("dst"),
    )
    # the deduped lineitem edge set is materialized ONCE (r14): the
    # operator's self-join otherwise recomputes the full scan+distinct
    # of the biggest table for EACH join side (measured 2x on the plan)
    from big_data___knowledge_graph_construction_with_llm_spark.materialize import (
        materialize,
    )

    e2 = materialize(
        li.select(
            (F.col("l_orderkey") * 4 + 2).alias("src"),
            (F.col("l_partkey") * 4 + 3).alias("dst"),
        ).distinct()
    )
    edges = e1.unionByName(e2)

    # join output is already row-distinct: e1 has one row per order and e2
    # is deduped, and the namespace tags make only c→o ⋈ o→p match —
    # so the oracle's DISTINCT is a no-op we must not pay a shuffle for.
    def _decode(c: str) -> F.Column:
        # integer div, not float: `/` routes through double and a key
        # above 2^53 would decode off-by-one
        key = F.expr(f"{c} div 4").cast("string")
        tag = F.col(c) % 4
        return F.concat(
            F.when(tag == 1, F.lit("c:"))
            .when(tag == 2, F.lit("o:"))
            .otherwise(F.lit("p:")),
            key,
        ).alias(c)

    return two_hop(edges).select(_decode("src"), _decode("mid"), _decode("dst"))


@query(
    "q_connected_components",
    oracle="""
    WITH cn AS (
      SELECT c_name, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
    ),
    comp AS (
      SELECT n_name, least(n_name, min(c_name)) AS comp FROM cn GROUP BY n_name
    )
    SELECT c_name AS id, comp FROM cn JOIN comp USING (n_name)
    UNION ALL
    SELECT n_name AS id, comp FROM comp
    """,
)
def q_connected_components(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components of the bipartite customer—nation graph
    (driver-side union-find up to ``DRIVER_CC_MAX_EDGES`` edges, i.e.
    sf < 1; min-label propagation above). Every component is one nation
    plus its customers, so the oracle can state the fixpoint directly:
    comp = least(n_name, min(c_name)) — exact parity proves convergence."""
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    edges = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("c_name").alias("src"), F.col("n_name").alias("dst")
    )
    return connected_components(edges)


@query(
    "q_triangle_count",
    oracle="""
    WITH base AS (
      SELECT c_name AS x, n_name AS y
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT n_name, r_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
      UNION ALL
      SELECT c_name, r_name
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    ),
    e AS (
      SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
      FROM base WHERE x <> y
    )
    SELECT count(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def q_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle counting (GraphX ``triangleCount`` analog) on the
    customer—nation—region graph: each customer closes a (customer,
    nation, region) triangle, and the oracle recomputes the count from
    the same edge set with plain SQL self-joins — exact parity."""
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    cnr = cn.join(F.broadcast(r), cn.n_regionkey == r.r_regionkey)
    edges = (
        cn.select(F.col("c_name").alias("src"), F.col("n_name").alias("dst"))
        .unionByName(
            nr.select(F.col("n_name").alias("src"), F.col("r_name").alias("dst"))
        )
        .unionByName(
            cnr.select(F.col("c_name").alias("src"), F.col("r_name").alias("dst"))
        )
    )
    return triangle_count(edges)


def _pagerank_oracle(iterations: int, scale: int, dnum: int) -> str:
    """Unrolled fixed-iteration PageRank in DuckDB SQL, mirroring the
    integer-scaled arithmetic of ``pagerank(exact_scale=...)`` step for
    step (`//` and Spark's `div` agree on non-negative int64), so the
    hash compare is exact — no float-drift tolerance needed."""
    parts = [
        f"""
    WITH e0 AS (
      SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
             't:' || event_type AS dst
      FROM events
    ),
    deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
    e AS (SELECT e0.src, e0.dst, deg.deg FROM e0 JOIN deg USING (src)),
    verts AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
    nn AS (SELECT count(*) AS n FROM verts),
    pr0 AS (SELECT id, {scale} // (SELECT n FROM nn) AS r FROM verts)"""
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
    c{k} AS (
      SELECT e.dst AS id, sum(p.r // e.deg) AS s
      FROM e JOIN pr{k - 1} p ON p.id = e.src GROUP BY e.dst
    ),
    pr{k} AS (
      SELECT v.id,
             ({100 - dnum} * {scale}) // (100 * (SELECT n FROM nn))
             + ({dnum} * coalesce(c.s, 0)) // 100 AS r
      FROM verts v LEFT JOIN c{k} c USING (id)
    )"""
        )
    parts.append(
        f"""
    SELECT id, CAST(r AS DOUBLE) / {float(scale)} AS rank
    FROM pr{iterations}"""
    )
    return "".join(parts)


@query("q_pagerank", oracle=_pagerank_oracle(10, 10**12, 85))
def q_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Static PageRank (10 iterations, damping 0.85) on the
    user→event_type bipartite graph, in exact integer-scaled arithmetic
    (``exact_scale=1e12``) so ranks are bit-identical across engines,
    partitionings, and cluster sizes — which upgrades this from a
    rows-only check to a full hash-compared oracle row (the float path
    stays available for throughput; its parallel sums are
    order-dependent and can drift in the last ulps)."""
    ev = load(spark, sf, "events")
    edges = ev.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
    ).distinct()
    return pagerank(edges, iterations=10, exact_scale=10**12)


def _accent_fold_sql(expr: str) -> str:
    """DuckDB twin of ``default_entity_block``'s accent fold: the SAME
    27-char map (imported, not copied) as nested ``replace`` calls, so
    the oracle's blocking agrees with Spark's even if the regenerated
    testdata ever grows accented names."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph import _ACCENTED, _FOLDED

    out = expr
    for a, f in zip(_ACCENTED, _FOLDED):
        out = f"replace({out}, '{a}', '{f}')"
    return out


@query(
    "q_resolve_entities",
    oracle=f"""
    WITH RECURSIVE names AS (
      SELECT DISTINCT p_name AS n FROM part
      UNION
      SELECT DISTINCT substring(p_name, 1, 3) || 'z' || substring(p_name, 5)
      FROM part
    ),
    blocked AS (
      SELECT n,
             substring({_accent_fold_sql("lower(n)")}, 1, 2) || '|'
               || CAST(length(n) // 8 AS VARCHAR) AS blk
      FROM names
    ),
    e AS (
      SELECT a.n AS src, b.n AS dst
      FROM blocked a JOIN blocked b ON b.blk = a.blk AND a.n < b.n
      WHERE levenshtein(lower(a.n), lower(b.n)) <= 2
    ),
    sym AS (
      SELECT src, dst FROM e
      UNION
      SELECT dst AS src, src AS dst FROM e
    ),
    r(a, b) AS (
      SELECT n, n FROM names
      UNION
      SELECT r.a, s.dst FROM r JOIN sym s ON s.src = r.b
    )
    SELECT a AS name, min(b) AS canonical FROM r GROUP BY a
    """,
)
def q_resolve_entities(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution end-to-end (``operators.graph.resolve_entities``):
    blocked fuzzy self-match (default composite block key — accent-folded
    first-2-chars × length bucket) → levenshtein ≤ 2 verify → connected
    components over the match graph → min-canonical per cluster,
    covering every input vertex. This is the deterministic twin of the
    reference's central LLM step (entity merging via prompts,
    ``…AWS/LLM/chains.py:37-104``): typo'd clones of the part vocabulary
    (4th char replaced with 'z') are planted and must collapse onto
    their originals. The oracle replays blocking + matching in SQL and
    resolves clusters with a recursive transitive closure — affordable
    because components are small, exactly the regime blocking is
    designed to produce. ``strict=True``: non-convergence would be a
    hard error, not a silent wrong answer.
    """
    from big_data___knowledge_graph_construction_with_llm_spark.operators.graph import resolve_entities

    p = load(spark, sf, "part").select(F.col("p_name").alias("name")).distinct()
    clones = p.select(
        F.concat(
            F.substring("name", 1, 3), F.lit("z"), F.expr("substring(name, 5)")
        ).alias("name")
    )
    vertices = p.unionByName(clones).distinct()
    return resolve_entities(vertices, id_col="name", max_edit=2, strict=True)
