"""Physical-plan assertions: the 100 TB properties the engine claims —
small sides broadcast, predicates/projections reach the parquet scan,
no cartesian products, no row-at-a-time Python in any registered query.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from big_data___knowledge_graph_construction_with_llm_spark.plans import QUERIES
from tests.conftest import SF_DIR


def plan_text(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_star_join_broadcasts_small_dims(spark):
    p = plan_text(QUERIES["q_join_orders_customer"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_canonicalize_is_broadcast_lookup(spark):
    p = plan_text(QUERIES["q_canonicalize_relations"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    # the big events side must NOT hash-shuffle for the lookup join
    assert "SortMergeJoin" not in p


def test_range_join_broadcast_not_cartesian(spark):
    p = plan_text(QUERIES["q_range_join"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_filter_reaches_parquet_scan(spark):
    p = plan_text(QUERIES["q_filter_project"](spark, SF_DIR))
    assert "PushedFilters: [" in p
    # at least one real pushed predicate (not an empty list)
    assert "PushedFilters: []" not in p


def test_column_pruning_reaches_scan(spark):
    p = plan_text(QUERIES["q_topk"](spark, SF_DIR))
    # ReadSchema must be narrower than the full orders schema (9 cols)
    read_line = next(ln for ln in p.splitlines() if "ReadSchema" in ln)
    assert read_line.count(",") < 8


def test_sliding_window_is_expand_not_selfjoin(spark):
    """Each event lands in its windows via one Expand node — a self-join
    formulation would shuffle the events table against itself."""
    p = plan_text(QUERIES["q_event_windows"](spark, SF_DIR))
    assert "Expand" in p
    assert "CartesianProduct" not in p


def test_triangle_count_no_cartesian(spark):
    p = plan_text(QUERIES["q_triangle_count"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dataset_split_prunes_and_stays_jvm(spark):
    """The split is a pure projection over two columns: the scan must
    prune to (doc_id, lang) and nothing may leave the JVM."""
    p = plan_text(QUERIES["q_dataset_split"](spark, SF_DIR))
    read_line = next(ln for ln in p.splitlines() if "ReadSchema" in ln)
    assert "doc_id" in read_line and "lang" in read_line
    assert "text" not in read_line  # the big column stays unread
    assert "Join" not in p


def test_ivf_assignment_is_map_only(spark):
    """Nearest-centroid assignment must be a pure projection: no Exchange,
    no join, no row explosion (the round-1 crossJoin×k + groupBy shuffle
    is the exact anti-pattern this pins against)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.similarity import (
        ivf_centroids,
        ivf_index,
    )
    from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load

    vecs = load(spark, SF_DIR, "embeddings").filter("vec_id != 0")
    cents = ivf_centroids(vecs, k=4, iterations=1)
    p = plan_text(ivf_index(vecs, cents))
    assert "Exchange" not in p, p
    assert "Join" not in p, p


def test_knn_ivf_probe_is_partition_pruned(spark):
    """q_knn_ivf must hit the AT-REST index: the probe filter on the
    partition column shows up as PartitionFilters (the scan reads
    ~n_probe/k of the files) and no k-means retraining happens at query
    time (no aggregation anywhere in the query plan)."""
    p = plan_text(QUERIES["q_knn_ivf"](spark, SF_DIR))
    part_line = next(ln for ln in p.splitlines() if "PartitionFilters" in ln)
    assert "cluster" in part_line, p
    assert "HashAggregate" not in p, p  # training would aggregate
    assert "Join" not in p, p


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_python_row_udfs_anywhere(spark, name):
    """Row-at-a-time Python (BatchEvalPython) must never appear; Arrow
    batch (mapInPandas, AggregateInPandas) is the only allowed Python
    boundary. q_weighted_mean's pandas GROUPED_AGG UDAF is Arrow-batched
    by construction — assert its physical node says so."""
    p = plan_text(QUERIES[name](spark, SF_DIR), mode="extended")
    assert "BatchEvalPython" not in p
    # no query may ever degenerate into an unconstrained cartesian product
    assert "CartesianProduct" not in p
    if name == "q_weighted_mean":
        # Spark 4's physical node for a pandas GROUPED_AGG UDAF
        assert "ArrowAggregatePython" in p
    else:
        assert "PythonUDF" not in p


def test_decontaminate_is_cross_dataset_only(spark):
    """Pin decontaminate's non-quadratic shape: the LSH candidate join
    must be benchmark-rows × corpus-rows (negative ids vs non-negative),
    NEVER a self-join of the union — corpus×corpus candidates at 10⁹
    docs is the scale-killer this operator exists to avoid. The identity
    materializer exposes the full lineage to explain()."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        _banded,
        _cross_from_sides,
        minhash_signatures,
    )
    from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load
    from pyspark.sql import functions as F

    d = load(spark, SF_DIR, "documents").select("doc_id", "text")
    bench = d.filter("doc_id % 50 = 0").select(
        (-F.col("doc_id") - 1).alias("doc_id"), "text"
    )
    banded = _banded(
        minhash_signatures(d.unionByName(bench), "doc_id", "text", 64), 64, 16
    )
    p = plan_text(
        _cross_from_sides(
            banded.filter(F.col("_id") < 0), banded.filter(F.col("_id") >= 0)
        )
    )
    # exactly ONE equi-join on the (band, bucket) LSH key...
    band_key_lines = [
        ln for ln in p.splitlines() if "keys" in ln and "band#" in ln
    ]
    assert len(band_key_lines) == 2, p  # one join = left keys + right keys
    # ...and its two sides are id-disjoint: bench side filtered to
    # negative ids, corpus side to non-negative
    assert "< 0)" in p, p
    assert ">= 0)" in p, p
    assert "CartesianProduct" not in p, p


def test_pq_encode_is_map_only_and_adc_avoids_global_sort(spark):
    """PQ: byte-encoding must be a pure projection (no Exchange, no join
    — same contract as IVF assignment), and the ADC top-k must compile
    to TakeOrdered (per-partition k-selection + driver merge), never a
    full global Sort of the corpus."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.similarity import (
        knn_pq,
        pq_codebooks,
        pq_encode,
    )
    from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load

    vecs = load(spark, SF_DIR, "embeddings").filter("vec_id != 0")
    books = pq_codebooks(vecs, dim=64, m=4, k=4, iterations=1)
    enc = pq_encode(vecs, books, dim=64)
    p = plan_text(enc)
    assert "Exchange" not in p, p
    assert "Join" not in p, p
    q = plan_text(knn_pq(enc, books, [0.0] * 64, k=5))
    assert "TakeOrdered" in q, q
    assert "Join" not in q, q


def test_knn_ivf_pq_prunes_partitions_and_skips_vectors(spark, tmp_path):
    """IVF-PQ against an at-rest index: the coarse probe must show up as
    PartitionFilters on `cluster`, and the ADC scan must read ONLY the
    id + code columns — the full embedding column staying unread is the
    entire storage story of PQ."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.similarity import (
        ivf_centroids,
        ivf_index,
        knn_ivf_pq,
        pq_codebooks,
        pq_encode,
    )
    from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load

    vecs = load(spark, SF_DIR, "embeddings").filter("vec_id != 0")
    cents = ivf_centroids(vecs, k=4, iterations=1)
    books = pq_codebooks(vecs, dim=64, m=4, k=4, iterations=1)
    path = str(tmp_path / "ivfpq")
    pq_encode(ivf_index(vecs, cents), books, dim=64).write.partitionBy(
        "cluster"
    ).parquet(path)
    index = spark.read.parquet(path)
    q = [0.1] * 64
    p = plan_text(knn_ivf_pq(index, cents, books, q, k=5, n_probe=2))
    part_line = next(ln for ln in p.splitlines() if "PartitionFilters" in ln)
    assert "cluster" in part_line, p
    read_line = next(ln for ln in p.splitlines() if "ReadSchema" in ln)
    assert "code" in read_line, p
    assert "embedding" not in read_line, p  # vectors never touched


def test_boilerplate_leg_never_uses_a_window(spark):
    """The q_token_count span leg must stay a hash-aggregate: a Window
    over the span fingerprint buffers every row of a hot key (a licence
    span in millions of docs) in one task — the shape was measured,
    rejected, and must not come back."""
    p = plan_text(QUERIES["q_token_count"](spark, SF_DIR))
    assert "Window" not in p
    assert "HashAggregate" in p


def test_excise_and_ngram_leaks_stay_jvm_side(spark):
    """The round-5 curation operators must follow the house rules even
    though they hold no registry slot: pure built-in expressions (no
    Python evaluation of any kind) and no cartesian product — the
    excision rebuild and the 13-gram semi-join are equi-joins on ids
    and span fingerprints."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        excise_repeated_spans,
        ngram_leaks,
    )
    from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "text")
    bench = d.filter("doc_id % 50 = 0").select("text")
    for df in (
        excise_repeated_spans(d, "doc_id", "text"),
        ngram_leaks(d, bench, "doc_id", "text", n=13),
    ):
        p = plan_text(df, mode="extended")
        assert "BatchEvalPython" not in p
        assert "PythonUDF" not in p
        assert "CartesianProduct" not in p


def test_exact_dedup_group_strategy_single_exchange(spark):
    """The default full-pass dedup shape (VERDICT r10 #3): ONE hash
    exchange keyed by the fingerprint, min_by aggregation, NO join —
    shuffle stays ≈ input at every scale instead of cliffing 280x when
    AQE's broadcast threshold is crossed."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.dedup import (
        exact_dedup_by_hash,
    )
    from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "text")
    g = exact_dedup_by_hash(d, "text", "doc_id")
    p = plan_text(g, mode="simple")
    assert "Join" not in p
    assert p.count("Exchange") == 1
    assert "Aggregate" in p  # partial-aggregated: map-side combine


def test_tombstone_read_is_broadcast_antijoin(spark, tmp_path):
    """The tombstone anti-join must broadcast the (small) key set —
    never sort-merge the table — and a chain WITHOUT tombstones must
    not add any join at all."""
    from pyspark.sql import functions as F

    from big_data___knowledge_graph_construction_with_llm_spark.operators import (
        layout,
    )

    root = f"{tmp_path}/t"
    layout.write_table(
        spark.range(2000).select(F.col("id"), F.lit(0).alias("v")), root
    )
    clean = layout.read_table(spark, root)
    assert "Join" not in clean._jdf.queryExecution().executedPlan().toString()

    layout.delete_from_table(spark, root, "id", keys=[1, 2, 3])
    p = (
        layout.read_table(spark, root)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p
