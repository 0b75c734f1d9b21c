"""Iterative graph analytics as DataFrame loops (north-star "GraphX"
surface, BASELINE.json).

GraphX itself is Scala-only and GraphFrames is not available in this
container, so the algorithms are expressed as the same message-passing
joins those libraries compile to: per iteration one equi-join on the edge
table + one aggregation, with :func:`materialize` cutting lineage so the
plan does not grow with the iteration count (the classic failure mode of
iterative DataFrame code at scale). The materialization strategy is
pluggable (``materialize.set_materializer``): the ``localCheckpoint``
default is fastest locally, ``reliable_checkpoint`` is the fault-tolerant
choice for long-running jobs on real clusters.

Scale notes: each iteration shuffles on vertex id — pre-partitioning the
edge table by ``dst`` (bucketing at rest) makes every iteration's join
co-located; convergence checks are ``observe`` metrics riding each
iteration's materialization job (:func:`_observed_long`), not extra
probe jobs. Per-iteration job overhead dominates small graphs on a
dataflow engine (Pregelix, VLDB 2014), so :func:`connected_components`
resolves pair graphs of up to ``DRIVER_CC_MAX_EDGES`` edges on the
driver instead of iterating.
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data___knowledge_graph_construction_with_llm_spark.materialize import materialize, release

log = logging.getLogger(__name__)


def _observed_long(obs: Observation, name: str, fallback) -> int:
    """Read one long metric from an :class:`Observation` attached to a
    frame that was just FORCED by :func:`materialize` — the metric rides
    the materialization job, so convergence probes cost ZERO extra jobs
    (the old shape paid one ``limit(1).count()`` job per iteration).
    Every shipped materializer is eager (the module contract), so the
    metric is already available by the time this reads it; if that ever
    breaks (a custom non-eager materializer, a congested listener bus,
    a PySpark-internals change), ``fallback()`` runs one real probe job
    instead — never a blocking ``Observation.get`` wait. NULL metric
    (zero observed rows) reads as 0, matching what the aggregate means
    on an empty frame.

    VERSION COUPLING: ``obs._jo.getOrEmpty`` reaches PySpark/JVM
    private internals via py4j (pinned against pyspark 4.x here; the
    public ``Observation.get`` would BLOCK when the metric is missing,
    which is the whole reason for the private read). If an upgrade
    renames it, the narrow except below routes every probe through the
    fallback job — correct but one job per iteration slower, and the
    debug log makes that visible instead of silent."""
    try:
        jmap = obs._jo.getOrEmpty()  # non-blocking, unlike Observation.get
        if not jmap.isEmpty():
            v = jmap.get(name).get()
            return 0 if v is None else int(v)
        log.debug(
            "observe metric %s not yet delivered; running fallback probe job",
            name,
        )
    except (AttributeError, Py4JError, PySparkException) as exc:
        # _jo/getOrEmpty gone (version drift), py4j transport errors and
        # pyspark's own wrappers of either cost one probe; anything else
        # is a real bug and surfaces
        log.debug(
            "observe metric %s unreadable (%s); running fallback probe job",
            name,
            exc,
        )
    return int(fallback())


def _union_find_components(rows) -> list[tuple]:
    """``(id, comp)`` for a collected ``(src, dst)`` edge list, comp =
    component minimum — the driver path of :func:`connected_components`.
    Union by smaller root keeps every root its component's minimum. A
    NULL endpoint mirrors the loop, where NULL never matches a join key:
    it links nothing, and its row carries the minimum label over its
    non-NULL neighbours."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    null_nbrs = []
    for s, d in rows:
        for v in (s, d):
            if v is not None:
                parent.setdefault(v, v)
        if s is None or d is None:
            if s is not None or d is not None:
                null_nbrs.append(d if s is None else s)
            continue
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    out = [(v, find(v)) for v in parent]
    if null_nbrs:
        out.append((None, min(find(v) for v in null_nbrs)))
    return out


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view of a directed edge list (both directions, distinct)."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).distinct()


#: Raw edge count at or below which :func:`connected_components` resolves
#: on the driver. A driver-memory cap, not a speed crossover: on a
#: ``q_connected_components``-shaped graph (customers -> 25 nations,
#: local[4]) the driver path beat the loop at every size measured —
#: 1.7 s vs 2.9-3.7 s at 1e5 edges (collect 0.6 s, union-find 0.2 s,
#: ``createDataFrame`` 0.3 s), 3.5-4.6 s vs 6.5-6.7 s at 3e5 — while its
#: Python heap peaks at ~530 bytes per edge (53 MB at 1e5).
DRIVER_CC_MAX_EDGES = 100_000


def connected_components(
    edges: DataFrame, max_iter: int = 20, strict: bool = False
) -> DataFrame:
    """Connected components (weak/undirected): ``(id, comp)`` where
    ``comp`` is the minimum vertex id in the component (deterministic).
    Edges are always treated as undirected — one-directional
    propagation would compute neither weakly- nor strongly-connected
    components (strong CC needs a different algorithm entirely).

    The raw ``(src, dst)`` list is materialized ONCE with an
    ``observe``d row count riding that job. Then one of two exact paths
    runs, chosen by that count (and the id type):

    - at or below ``DRIVER_CC_MAX_EDGES`` (and for integral or plain
      string ids, whose Python ordering is Spark's): collect the list
      and resolve it with union-find, returning a small local frame —
      one collect instead of O(diameter) iterations of joins. Every
      near-dup pair graph and entity-match graph at batch scale lands
      here.
    - above it: symmetrize the materialized list and run iterative
      min-label propagation. Each iteration is ONE shuffle-join + ONE
      partial-aggregated min (r14): the symmetrized edge table is
      augmented with a self-edge per vertex, so the per-neighbor min
      INCLUDES the vertex's own label — the update, the old-vs-new
      change flag and full vertex coverage come out of one aggregation.
      The convergence probe rides the materialization job as an
      ``observe`` metric — zero probe jobs. Converges in O(diameter)
      iterations.

    ``max_iter``/``strict`` bound only the loop (the driver path is
    exact): a loop that has not converged after ``max_iter`` iterations
    returns partial labels with a warning, or raises under ``strict``.
    A NULL endpoint comes out of both paths the same way: it joins no
    component, and appears as a NULL id carrying the smallest component
    label among its non-NULL neighbours (if it has any).
    """
    obs = Observation()
    raw = materialize(
        edges.select("src", "dst").observe(obs, F.count(F.lit(1)).alias("n"))
    )
    sym = symmetrize(raw)
    id_type = sym.schema["src"].dataType
    if (
        isinstance(id_type, T.IntegralType) or id_type.simpleString() == "string"
    ) and _observed_long(obs, "n", raw.count) <= DRIVER_CC_MAX_EDGES:
        labels = raw.sparkSession.createDataFrame(
            _union_find_components(raw.collect()),
            T.StructType([T.StructField("id", id_type), T.StructField("comp", id_type)]),
        )
        release(raw)
        return labels
    # materialize the augmented edge table ONCE — without this the
    # union+distinct (a full shuffle of the edge table) re-executes every
    # iteration, which at scale dominates the whole algorithm. No manual
    # pre-partitioning: an explicit repartition(n, key) would pin every
    # downstream stage to n tasks and disable AQE's partition coalescing
    # — measured SLOWER at bench scale than paying the join's own
    # exchange (the scale-adaptive choice is AQE's, guide §2.2).
    verts = (
        sym.select(F.col("src").alias("id")).distinct()
    )  # symmetric ⇒ src covers dst-only vertices too
    e = materialize(
        sym.unionByName(
            verts.select(F.col("id").alias("src"), F.col("id").alias("dst"))
        )
    )
    release(raw)
    labels = materialize(
        e.select(F.col("dst").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    # `prev` tracks the MATERIALIZED frame backing `labels` so the
    # superseded iteration's blocks can be released as soon as the next
    # one exists (materializers are eager; `labels` itself may be a
    # projection over `prev`, which release() cannot see through)
    prev = labels
    for _ in range(max_iter):
        new = (
            e.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(
                F.min("comp").alias("comp"),
                # the self-edge row (src == dst) carries src's OLD label
                # through the same aggregate — no second join needed
                F.min(
                    F.when(F.col("src") == F.col("dst"), F.col("comp"))
                ).alias("_old"),
            )
            .select(
                F.col("src").alias("id"),
                "comp",
                (F.col("comp") < F.col("_old")).alias("_chg"),
            )
        )
        obs = Observation()
        new = new.observe(obs, F.sum(F.col("_chg").cast("long")).alias("n_chg"))
        new = materialize(new)
        changed = _observed_long(
            obs, "n_chg", lambda: new.filter("_chg").limit(1).count()
        )
        release(prev)
        prev = new
        labels = new.drop("_chg")
        if changed == 0:
            break
    else:
        # graphs with diameter > max_iter would get silently-wrong labels;
        # surface it — callers on huge-diameter graphs should raise max_iter
        if strict:
            raise RuntimeError(
                f"connected_components did not converge within max_iter="
                f"{max_iter} iterations; raise max_iter (labels would be "
                "partial — in strict mode that is an error, not a warning)"
            )
        log.warning(
            "connected_components did not converge within max_iter=%d "
            "iterations; returned labels are partial", max_iter,
        )
    # the symmetrized edge copy is dead: the returned labels are backed
    # by their own materialized frame and never re-read `e`
    release(e)
    return labels


def pair_components(
    pairs: DataFrame, max_iter: int = 20, strict: bool = False
) -> DataFrame:
    """Components of an ``(id_a, id_b)`` pair graph — the shape every
    near-dup family resolution produces — as ``(id, comp)``. Thin
    adapter over :func:`connected_components`."""
    return connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        max_iter=max_iter,
        strict=strict,
    )


def keep_min_id_per_component(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iter: int = 20,
    strict: bool = False,
) -> DataFrame:
    """THE cluster-collapse keep-rule, shared by every near-dup removal
    path (``dedup.semantic_dedup``, ``similarity.embedding_dedup``,
    ``curation``): resolve the verified pair graph into components and
    keep the minimum-id representative of each — rows of ``df`` outside
    any pair survive untouched. Components rather than pairwise drops
    because near-duplication chains (A≈B, B≈C is one family), and the
    component minimum is deterministic. Only ids shuffle in the drop
    join; the component step runs on the PAIR graph (candidate-sized,
    not corpus-sized)."""
    comps = pair_components(pairs, max_iter=max_iter, strict=strict)
    drop = comps.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    exact_scale: int | None = None,
    checkpoint_every: int = 4,
) -> DataFrame:
    """PageRank (simple variant: dangling mass is dropped, as in the
    original GraphX ``staticPageRank`` formulation).

    Returns ``(id, rank)``. Each iteration is ONE join + ONE aggregation
    (r14): the degree-fused edge table is augmented with a zero-weight
    self-edge per vertex (integer mode: ``deg = 2^62`` so ``r div deg``
    is exactly 0 for any ``r ≤ exact_scale ≤ 1e16``; float mode:
    ``w = 0.0``), so every vertex — in-edges or not — appears in the
    contribution aggregate and the old per-iteration ``verts`` left
    join disappears. Results are bit-identical: the self-edge adds an
    exact integer 0 (or IEEE ``x + 0.0 = x``) to each vertex's sum,
    which is precisely what ``coalesce(s, 0)`` supplied before.

    The loop has NO convergence probe (fixed iteration count), so the
    lineage cut does not need to be per-iteration either:
    ``checkpoint_every`` bounds plan depth (and, under the
    reliable-checkpoint materializer, recovery replay) while letting
    the scheduler run several iterations inside one job — each eager
    materialization is a full job barrier plus its AQE stage-jobs,
    measured ~6 driver round-trips per iteration at bench scale.

    With ``exact_scale`` (e.g. ``10**12``) ranks are carried as scaled
    int64 and every step uses integer division — floating-point addition
    is not associative, so a parallel float sum depends on partition
    order, while the integer formulation is bit-identical on any engine,
    partitioning, or cluster size (that's what lets the DuckDB oracle
    hash-match ``q_pagerank``). Precision loss vs the float path is
    ≤ ``n_vertices / exact_scale`` per iteration — at 1e12 that's noise.
    Requires ``damping*100`` integral and ``exact_scale ≤ 1e16``
    (keeps ``damping_pct * total_mass`` within int64).
    """
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    e = edges.select("src", "dst")
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    # fuse out_degree into the edge table ONCE, add the self-edges, and
    # materialize it. Each mode carries only ITS division operand (int
    # deg / float 1/deg) so the per-iteration join doesn't shuffle a
    # dead column. No manual pre-partitioning: an explicit
    # repartition(n, key) pins downstream stages to n tasks and
    # disables AQE coalescing — measured slower at bench scale.
    if exact_scale is not None:
        weight = F.col("deg")
        self_w = F.lit(1 << 62).alias("deg")  # r div 2^62 == 0 for r ≤ 1e16
    else:
        weight = (F.lit(1.0) / F.col("deg")).alias("w")
        self_w = F.lit(0.0).alias("w")
    e_w = materialize(
        e.join(out_deg, "src")
        .select("src", "dst", weight)
        .unionByName(
            verts.select(
                F.col("id").alias("src"), F.col("id").alias("dst"), self_w
            )
        )
    )
    # vertex count: one column-pruned count over the (lazy) vertex set —
    # NOT a count of e_w's self-edge rows, which would double-count any
    # vertex that also has a genuine self-loop in the input
    n = verts.count()
    if n == 0:
        return verts.withColumn("rank", F.lit(0.0))  # empty graph, empty result

    def _loop(ranks: DataFrame, step) -> DataFrame:
        """Run the fixed iterations, cutting lineage every
        ``checkpoint_every`` steps and after the last one (the returned
        frame must be self-contained so e_w's blocks can be released)."""
        prev = None  # superseded materialized rank frames, released eagerly
        for i in range(iterations):
            ranks = step(ranks)
            if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
                ranks = materialize(ranks)
                if prev is not None:
                    release(prev)
                prev = ranks
        return ranks

    if exact_scale is not None:
        dnum = int(round(damping * 100))
        if abs(dnum - damping * 100) > 1e-9:
            raise ValueError("exact mode needs damping at 2-decimal precision")
        if exact_scale > 10**16:
            raise ValueError("exact_scale > 1e16 risks int64 overflow")
        base_i = ((100 - dnum) * exact_scale) // (100 * n)

        def _step_exact(ranks: DataFrame) -> DataFrame:
            return (
                e_w.join(ranks.withColumnRenamed("id", "src"), "src")
                # `div` = integer division: float `floor(r/deg)` would be
                # unsafe (a 2^-52-relative error crosses the floor
                # boundary whenever the true quotient is within ~1e-4 of
                # an integer at 1e12 scale)
                .select(F.col("dst").alias("id"), F.expr("r div deg").alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("s"))
                # s is never NULL: the self-edge contributes an exact 0
                .select(
                    "id",
                    (
                        F.lit(base_i) + F.expr(f"({dnum} * s) div 100")
                    ).alias("r"),
                )
            )

        ranks = _loop(
            verts.withColumn("r", F.lit(exact_scale // n)), _step_exact
        )
        if iterations > 0:
            # loop ran ⇒ `ranks` is its own materialized frame; the edge
            # copy is no longer referenced by the result
            release(e_w)
        # r ≤ scale < 2^53 and scale is a power of ten: both operands are
        # exact doubles, so the one rounded division is IEEE-identical
        # everywhere
        return ranks.select(
            "id", (F.col("r").cast("double") / F.lit(float(exact_scale))).alias("rank")
        )

    base = (1.0 - damping) / n

    def _step_float(ranks: DataFrame) -> DataFrame:
        return (
            e_w.join(ranks.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") * F.col("w")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("c"))
            # c is never NULL: the self-edge contributes an exact +0.0
            .select(
                "id",
                (F.lit(base) + F.lit(damping) * F.col("c")).alias("rank"),
            )
        )

    ranks = _loop(verts.withColumn("rank", F.lit(1.0 / n)), _step_float)
    if iterations > 0:
        release(e_w)
    return ranks


def label_propagation(edges: DataFrame, max_iter: int = 5) -> DataFrame:
    """Community detection by synchronous label propagation (GraphX /
    GraphFrames ``labelPropagation`` shape): every vertex starts in its
    own community and repeatedly adopts the most frequent label among its
    neighbors (ties → smallest label, so the result is deterministic —
    GraphX breaks ties by hash, which is stable but arbitrary; smallest
    is reproducible across engines).

    Per iteration: one join of labels onto the symmetrized edge table,
    one (dst, label) count, one argmax per dst — all partial-aggregated,
    shuffling on vertex id only, with the edge table hoisted out of the
    loop and ``localCheckpoint`` per iteration (the same discipline as
    ``connected_components``/``pagerank``). Synchronous LPA can
    oscillate on bipartite structures, which is why ``max_iter`` is a
    hard bound and not a convergence promise — standard for LPA.

    Returns ``(id, label)``.
    """
    e = materialize(symmetrize(edges))
    labels = materialize(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    prev = labels  # superseded per-iteration label frames, released eagerly
    for _ in range(max_iter):
        neigh = (
            e.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.count("*").alias("_n"))
        )
        # most frequent neighbor label, ties → smallest: one aggregation
        # pass via min over a (-count, label) struct (struct ordering)
        best = (
            neigh.groupBy("id")
            .agg(
                F.min(
                    F.struct((-F.col("_n")).alias("_neg"), F.col("label"))
                ).alias("_b")
            )
            .select("id", F.col("_b.label").alias("new_label"))
        )
        labels = materialize(
            labels.join(best, "id", "left")
            .select("id", F.coalesce("new_label", "label").alias("label"))
        )
        release(prev)
        prev = labels
    release(e)  # the returned labels are materialized; `e` is dead
    return labels


def _degree_oriented(canon: DataFrame) -> DataFrame:
    """Orient each undirected edge ``(a, b)`` toward its higher-
    ``(degree, id)`` endpoint (id breaks degree ties for a total order).

    Output ``(src, dst, dst_rank)`` where ``dst_rank`` is the struct
    ``(deg, id)`` of ``dst`` — carried so the wedge join can order a
    vertex's out-neighbors without another degree lookup. Under this
    orientation every vertex's out-degree is O(√m), so the wedge count is
    bounded by ``m^1.5`` instead of ``sum(deg²)`` — on a skewed graph
    (one celebrity vertex of degree d) that is d²/2 wedges saved.
    """
    deg = (
        canon.select(F.col("a").alias("id"))
        .unionByName(canon.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    annotated = canon.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("_da")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("_db")), "b")
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    return annotated.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(
            a_first, F.struct(F.col("_db").alias("deg"), F.col("b").alias("id"))
        )
        .otherwise(F.struct(F.col("_da").alias("deg"), F.col("a").alias("id")))
        .alias("dst_rank"),
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count (undirected): degree-ordered node-iterator —
    the GraphX ``triangleCount`` shape as two equi-joins.

    Symmetrize and keep each undirected edge once, orient it toward the
    higher-``(degree, id)`` endpoint, build wedges by self-joining the
    oriented edges on ``src`` (ordering the two out-neighbors by rank so
    each wedge appears once), then close each wedge against the oriented
    edge set — the closing edge, if present, is guaranteed to be oriented
    low-rank → high-rank, so one equi-join suffices. Every triangle is
    counted exactly once; no division by 3/6.

    Scale notes: degree-ordering bounds wedges by ``m^1.5`` where the
    naive id-ordering's ``sum(deg²)`` explodes on skewed graphs (a
    celebrity vertex of degree 10⁶ alone contributes 5·10¹¹ id-ordered
    wedges; degree-ordered it contributes none — its edges all point AT
    it). Both joins shuffle on vertex id; bucketing the edge table by
    ``src`` at rest co-locates them. Returns a 1-row ``(n_triangles)``
    DataFrame.
    """
    canon = materialize(
        symmetrize(edges)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    # reused by the wedge self-join (both sides) and the closing join
    o = materialize(_degree_oriented(canon))
    x, y = o.alias("x"), o.alias("y")
    wedges = (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .filter(F.col("x.dst_rank") < F.col("y.dst_rank"))
        .select(F.col("x.dst").alias("src"), F.col("y.dst").alias("dst"))
    )
    return wedges.join(o.select("src", "dst"), ["src", "dst"]).agg(
        F.count("*").alias("n_triangles")
    )


def k_core(edges: DataFrame, k: int, max_iter: int = 30) -> DataFrame:
    """The k-core subgraph (undirected): iteratively peel vertices with
    degree < ``k`` until none remain — the standard noise filter before
    community detection or triangle counting on web-scale entity graphs
    (pendant chains and tiny appendages vanish; the dense core that
    carries the signal survives).

    Returns the surviving undirected edge set ``(src, dst)`` (both
    directions, as :func:`symmetrize` emits). Self-loops and
    null-endpoint rows are dropped up front: k-core is defined on
    simple graphs (NetworkX refuses self-loops outright), counting a
    vertex's own loop toward its degree would keep a vertex whose ONLY
    connection is itself in every 1-core, and a row missing an endpoint
    is not an edge and must not prop up the degree of the endpoint it
    does have. Each iteration is one partial-aggregated degree count + one
    semi-join to drop edges touching peeled vertices — shuffles carry
    ``(vertex, count)`` pairs and vertex ids only. Converges in at most
    O(peeling-depth) iterations (≤ n, usually far fewer); a
    ``limit(1)`` probe detects the fixpoint, so no full-table diff is
    scanned.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    alive = materialize(
        symmetrize(
            edges.filter(
                F.col("src").isNotNull()
                & F.col("dst").isNotNull()
                & (F.col("src") != F.col("dst"))
            )
        )
    )
    for _ in range(max_iter):
        # symmetric edge list ⇒ out-degree on src IS the undirected degree
        low = (
            alive.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") < k)
            .select(F.col("src").alias("id"))
        )
        obs = Observation()
        low = materialize(low.observe(obs, F.count(F.lit(1)).alias("n")))
        if _observed_long(obs, "n", lambda: low.limit(1).count()) == 0:
            release(low)
            break
        survivors = (
            alive.join(low.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(low.withColumnRenamed("id", "dst"), "dst", "left_anti")
            .select("src", "dst")
        )
        nxt = materialize(survivors)
        release(low)
        release(alive)  # superseded edge set: `nxt` is its own frame
        alive = nxt
    else:
        log.warning(
            "k_core did not reach a fixpoint within max_iter=%d; the "
            "returned subgraph may still contain sub-k vertices", max_iter,
        )
    return alive


def k_hop_distances(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    directed: bool = True,
) -> DataFrame:
    """Minimum hop distance from a SOURCE SET, bounded by ``k`` — the
    KG neighborhood query ("everything within k hops of these
    entities") and the reachability primitive behind subgraph export.
    Returns ``(id, dist)`` for every vertex reachable in ≤ ``k`` hops,
    sources at ``dist`` 0; ``dist`` is the true minimum because BFS
    levels are explored in order. Unreachable vertices simply do not
    appear. ``sources`` is a DataFrame with an ``id`` column
    (distributed — a source set can be millions of seeds).

    Scale shape: FRONTIER-ONLY expansion — each level joins the edge
    table against just the newly-discovered vertices, not the whole
    visited set (level-synchronous BFS; for small ``k`` this beats
    full-label relaxation by never touching settled vertices), then an
    id-keyed anti-join against the visited set. Only ids and a level
    int shuffle. The loop runs ≤ ``k`` times and exits early when a
    frontier empties. Only per-LEVEL frames are materialized — the
    visited set is a lazy union of already-checkpointed levels, so a
    vertex settled at level 1 is never re-copied at levels 2..k, and
    the edge table is not touched (or copied) at all for ``k = 0``.
    """
    from functools import reduce

    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    level0 = materialize(
        sources.select("id").distinct().withColumn("dist", F.lit(0))
    )
    if k == 0:
        return level0
    e = materialize(
        edges.select("src", "dst") if directed else symmetrize(edges)
    )
    levels = [level0]
    seen = level0.select("id")
    frontier = seen
    for dist in range(1, k + 1):
        nxt = (
            e.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        obs = Observation()
        new = materialize(
            nxt.join(seen, "id", "left_anti")
            .withColumn("dist", F.lit(dist))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        if _observed_long(obs, "n", lambda: new.limit(1).count()) == 0:
            release(new)  # empty probe frame: unreferenced by the result
            break
        levels.append(new)
        frontier = new.select("id")
        seen = seen.unionByName(frontier)
    # every level is its own materialized frame; the (possibly
    # symmetrized) edge copy is not referenced by the returned union
    release(e)
    return reduce(DataFrame.unionByName, levels)


def k_hop_subgraph(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    directed: bool = True,
) -> DataFrame:
    """Induced subgraph on the ≤ ``k``-hop neighborhood of a source set:
    the edges whose BOTH endpoints lie within :func:`k_hop_distances`'s
    reach — the "export this entity's neighborhood" query that feeds
    the Neo4j bulk-CSV / bolt sinks with a bounded slice of a huge KG
    instead of the whole graph. All edge columns (relation labels,
    properties) pass through untouched: the filter is two id-keyed
    left-semi joins against the materialized vertex set, so property
    payloads never shuffle on anything but their own edge row."""
    verts = materialize(
        k_hop_distances(edges, sources, k, directed=directed).select("id")
    )
    return edges.join(
        verts.withColumnRenamed("id", "src"), "src", "left_semi"
    ).join(verts.withColumnRenamed("id", "dst"), "dst", "left_semi")
