"""Relational-core queries (SURVEY.md §2.2-2.7, §2.9 batch analogs).

Every query has a DuckDB oracle twin with identical column aliases.
Float aggregates are rounded identically on both sides; timestamps are
emitted as formatted strings / epoch seconds so both engines hash the
same values.

Round 2 note: near-duplicate queries were consolidated (scan+events,
count/distinct/percentile, rows+range frames, global+grouped top-k,
semi/anti+intersect/except, tumbling+sliding+session windows) so the
whole registry fits the driver's correctness window — each merged query
still exercises every SURVEY §2 row it absorbed, and the oracle is the
union of the original oracles.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints under PEP 563
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import (
    range_join_bands,
    sessionize,
    topk_per_group,
    union_fill,
)
from big_data___knowledge_graph_construction_with_llm_spark.plans.registry import query
from big_data___knowledge_graph_construction_with_llm_spark.plans.tables import load


# --- scans ---------------------------------------------------------------

@query(
    "q_scan_stats",
    oracle="""
    SELECT 'lineitem' AS source_key, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_val
    FROM lineitem
    UNION ALL
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_val
    FROM events
    WHERE event_type <> 'error'
    GROUP BY event_type
    UNION ALL
    SELECT 'theta_overlap' AS source_key, i.c AS n,
           round(i.c::DOUBLE / u.c, 4) AS sum_val
    FROM (
      SELECT count(*) AS c FROM (SELECT DISTINCT text FROM documents) a
      JOIN (SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0) b
      USING (text)
    ) i, (
      SELECT count(*) AS c FROM (
        SELECT text FROM documents
        UNION
        SELECT text FROM documents WHERE doc_id % 2 = 0
      )
    ) u
    """,
)
def q_scan_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Scan + count gates (parquet analog of the reference's CSV scan+count
    gate, ``…AWS/ingestion/DataIngestionBatch.py:73-77``): a full-table
    sum/count over lineitem plus a filtered per-type scan of the
    stream-shaped events table (filter pushed to parquet). Folded in r5:
    the no-join corpus-overlap leg (``sketches.corpus_overlap``) —
    Theta-sketch intersection count and Jaccard between the documents
    corpus and its even-id half, oracle-recomputed with exact DISTINCT
    joins. Theta sketches stay EXACT below their nominal 4096 entries
    and both corpora at the compared scale factors are far below it, so
    a green hash certifies the set-algebra path computes the truth (at
    larger corpora the same code returns bounded estimates)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sketches import (
        corpus_overlap,
    )

    li = load(spark, sf, "lineitem").agg(
        F.lit("lineitem").alias("source_key"),
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_val"),
    )
    ev = (
        load(spark, sf, "events")
        .filter(F.col("event_type") != "error")
        .groupBy(F.col("event_type").alias("source_key"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_val"))
    )
    d = load(spark, sf, "documents")
    ov = corpus_overlap(d, d.filter(F.col("doc_id") % 2 == 0), "text").select(
        F.lit("theta_overlap").alias("source_key"),
        F.col("n_intersection").cast("long").alias("n"),
        F.round("jaccard", 4).alias("sum_val"),
    )
    return li.unionByName(ev).unionByName(ov)


# --- filters / projections ------------------------------------------------

@query(
    "q_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_quantity > 25 AND l_returnflag = 'R'
    """,
)
def q_filter_project(spark: SparkSession, sf: str) -> DataFrame:
    # per-row IEEE arithmetic is bit-identical across engines — no rounding
    li = load(spark, sf, "lineitem")
    return li.filter((F.col("l_quantity") > 25) & (F.col("l_returnflag") == "R")).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


# --- aggregations ----------------------------------------------------------

@query(
    "q_agg_basic",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                  AS sum_qty,
           round(sum(l_extendedprice), 2)                             AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)          AS sum_disc_price,
           round(avg(l_quantity), 4)                                  AS avg_qty,
           round(avg(l_discount), 4)                                  AS avg_disc,
           count(*)                                                   AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_basic(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the flagship aggregation.

    Partial (map-side) aggregation is automatic; the shuffle carries only
    (flag, status) groups, so this scales with distinct groups, not rows.
    """
    li = load(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q_order_stats",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           count(DISTINCT o_custkey) AS n_cust,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.95), 2) AS p95,
           round(max(o_totalprice), 2) AS mx
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_order_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group count + exact count-distinct + exact percentiles
    (SURVEY §2.4 count-per-group and count-distinct rows, plus the
    sketch-free percentile baseline; at 100 TB swap
    approx_count_distinct / percentile_approx — same shape, bounded
    memory: that path is ``q_approx_sketches``).

    The count-distinct runs as its own aggregate joined back on the
    group key (r14): mixing ``countDistinct`` with plain aggregates
    makes Catalyst rewrite the whole Aggregate through an Expand (one
    duplicated row-stream per distinct group), dragging the percentile
    sort buffers through 2x the rows — the same pathology
    ``q_approx_sketches`` documents; split was measured 1.48s → 0.82s
    at sf0.1 with identical results."""
    o = load(spark, sf, "orders")
    plain = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 2).alias("p95"),
        F.round(F.max("o_totalprice"), 2).alias("mx"),
    )
    cd = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust")
    )
    # INNER equi-join is only safe because o_orderpriority is NON-NULL
    # (TPC-H invariant): a NULL group key would survive each aggregate
    # but be dropped by the re-join. Copying this split pattern to a
    # nullable group key needs eqNullSafe (or a coalesce'd key) instead.
    return plain.join(cd, "o_orderpriority").select(
        "o_orderpriority", "n", "n_cust", "p50", "p95", "mx"
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT event_type,
           CAST(user_id % 4 AS BIGINT) AS user_band,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_band), (event_type, user_band), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING SETS (SURVEY §2.4 rollup/cube/grouping-sets row): one pass
    producing all four aggregation granularities — Catalyst expands this
    with a single Expand node, not four scans. ROLLUP(a) ≡ SETS ((a),()),
    a strict subset of what this query produces."""
    ev = load(spark, sf, "events")
    ev.select(
        "event_type", (F.col("user_id") % 4).alias("user_band"), "value"
    ).createOrReplaceTempView("_gs_events")
    return spark.sql(
        """
        SELECT event_type, user_band, count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM _gs_events
        GROUP BY GROUPING SETS ((event_type), (user_band),
                                (event_type, user_band), ())
        """
    )


@query(
    "q_weighted_mean",
    oracle="""
    SELECT event_type,
           round(sum(value * (user_id % 5 + 1)) / sum(user_id % 5 + 1), 4)
               AS wmean
    FROM events
    GROUP BY event_type
    """,
)
def q_weighted_mean(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped weighted mean via a pandas GROUPED_AGG UDAF (SURVEY §2.10
    UDAF row): the vectorized custom-aggregate surface — Arrow ships each
    group's columns as pandas Series, one Python call per group, never
    per row. The oracle states the same aggregate in plain SQL."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _wmean(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())

    ev = load(spark, sf, "events")
    return (
        ev.select("event_type", "value", (F.col("user_id") % 5 + 1).alias("w"))
        .groupBy("event_type")
        .agg(F.round(_wmean("value", "w"), 4).alias("wmean"))
    )


# --- joins ------------------------------------------------------------------

@query(
    "q_join_orders_customer",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_join_orders_customer(spark: SparkSession, sf: str) -> DataFrame:
    """Star join: fact ⋈ dims, revenue per nation.

    The dimension joins (customer, nation) are broadcast — only the
    lineitem⋈orders join shuffles, on the orderkey. At 100 TB both fact
    tables would be bucketed by orderkey to remove that shuffle too.
    """
    li = load(spark, sf, "lineitem")
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@query(
    "q_membership",
    oracle="""
    SELECT c_custkey AS k, 'semi' AS tag FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT c_custkey AS k, 'anti' AS tag FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT nationkey AS k, 'both' AS tag FROM
      (SELECT c_nationkey AS nationkey FROM customer
       INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT nationkey AS k, 'customer_only' AS tag FROM
      (SELECT c_nationkey AS nationkey FROM customer
       EXCEPT SELECT s_nationkey FROM supplier)
    """,
)
def q_membership(spark: SparkSession, sf: str) -> DataFrame:
    """Set-membership surface in one query: left-semi / left-anti joins
    (SURVEY §2.3) plus INTERSECT / EXCEPT (SURVEY §2.7). Semi/anti compile
    to broadcast-able hash joins that never materialize the probe side."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").select("o_custkey")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").alias("k"), F.lit("semi").alias("tag")
    )
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("k"), F.lit("anti").alias("tag")
    )
    cn = c.select(F.col("c_nationkey").alias("k"))
    sn = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("k"))
    both = cn.intersect(sn).select("k", F.lit("both").alias("tag"))
    only = cn.subtract(sn).select("k", F.lit("customer_only").alias("tag"))
    return semi.unionByName(anti).unionByName(both).unionByName(only)


@query(
    "q_range_join",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('negative', -100000.0, 0.0), ('low', 0.0, 3000.0),
               ('mid', 3000.0, 7000.0), ('high', 7000.0, 100000.0)
    )
    SELECT band, count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
    FROM customer JOIN bands ON c_acctbal >= lo AND c_acctbal < hi
    GROUP BY band
    """,
)
def q_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Theta/range join into broadcast value bands (no cartesian shuffle)."""
    c = load(spark, sf, "customer")
    # inline VALUES relation — stays on the JVM (no pickled-RDD path)
    bands = spark.sql(
        """
        SELECT * FROM VALUES
            ('negative', -100000.0D, 0.0D), ('low', 0.0D, 3000.0D),
            ('mid', 3000.0D, 7000.0D), ('high', 7000.0D, 100000.0D)
            AS bands(band, lo, hi)
        """
    )
    return (
        range_join_bands(c, bands, "c_acctbal")
        .groupBy("band")
        .agg(F.count("*").alias("n"), F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
    )


@query(
    "q_asof",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_type, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_click_value,
           CAST(floor(epoch(ts)) AS BIGINT)
             - lag(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_type, event_id)
               AS gap_s
    FROM events
    QUALIFY event_type = 'purchase'
    """,
)
def q_asof(spark: SparkSession, sf: str) -> DataFrame:
    """As-of enrichment + lag in one pass: each purchase sees the latest
    click value at-or-before its timestamp, per user, plus the seconds
    since the previous event (SURVEY §2.3 as-of row and §2.5 lag/lead
    row) — one shuffle + one sort, no join."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_type", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    asof_click = F.last(
        F.when(F.col("event_type") == "click", F.col("value")), ignorenulls=True
    ).over(wf)
    epoch = F.unix_timestamp("ts")
    return (
        ev.withColumn("last_click_value", asof_click)
        .withColumn("gap_s", epoch - F.lag(epoch).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "last_click_value",
            "gap_s",
        )
    )


# --- windows ---------------------------------------------------------------

@query(
    "q_rank_in_group",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal,
           CAST(rank() OVER w AS INT) AS rnk,
           round(percent_rank() OVER w, 6) AS pct_rnk,
           round(cume_dist() OVER w, 6) AS cdist,
           CAST(ntile(4) OVER w AS INT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey)
    QUALIFY rnk <= 5
    """,
)
def q_rank_in_group(spark: SparkSession, sf: str) -> DataFrame:
    """SURVEY §2.5 ranking family in one window: rank / percent_rank /
    cume_dist / ntile over the same total order (the custkey tiebreak
    makes every function deterministic, and percent_rank's
    ``(rank-1)/(n-1)`` divides identical ints in both engines, so the
    doubles hash-match exactly). All four ride ONE window = one shuffle
    + one per-partition sort; the top-5 filter applies after, as
    QUALIFY does."""
    c = load(spark, sf, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("rnk", F.rank().over(w).cast("int"))
        .withColumn("pct_rnk", F.round(F.percent_rank().over(w), 6))
        .withColumn("cdist", F.round(F.cume_dist().over(w), 6))
        .withColumn("quartile", F.ntile(4).over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select(
            "c_nationkey", "c_custkey", "c_acctbal",
            "rnk", "pct_rnk", "cdist", "quartile",
        )
    )


@query(
    "q_window_frames",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_total,
           round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                 RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2) AS sum_30d
    FROM orders
    """,
)
def q_window_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Both window-frame kinds in one pass (SURVEY §2.5 running-agg rows):
    a ROWS-frame running total and a RANGE-frame 30-day trailing spend per
    customer — same partition, one shuffle serves both frames."""
    o = load(spark, sf, "orders")
    w_rows = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # o_orderdate arrives as TIMESTAMP_NTZ; route through ltz (session tz
    # is UTC) to get the same naive-UTC epoch DuckDB's epoch() computes
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-2592000, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w_rows), 2).alias("running_total"),
        F.round(F.sum("o_totalprice").over(w_range), 2).alias("sum_30d"),
    )


# --- sorts / top-k -----------------------------------------------------------

@query(
    "q_topk",
    oracle="""
    SELECT 'global' AS tag, o_orderpriority, o_orderkey, o_totalprice FROM (
      SELECT * FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    )
    UNION ALL
    SELECT 'group' AS tag, o_orderpriority, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey) <= 3
    UNION ALL
    SELECT 'budget' AS tag, o_orderpriority, o_orderkey, o_totalprice
    FROM (
      SELECT *, sum(o_orderkey % 50 + 10) OVER (
               ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - (o_orderkey % 50 + 10) AS strt
      FROM orders
    ) WHERE strt < 500
    UNION ALL
    SELECT 'sample' AS tag, o_orderpriority, o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 97 = 0
      AND ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
          % 10000 < 3700
    """,
)
def q_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k both ways (SURVEY §2.6): global orderBy+limit compiles to
    per-partition TakeOrdered + a k-row driver merge (no full sort at any
    scale); per-group top-k is a rank window + filter. Folded in r5, the
    two SELECTION operators: the ``budget`` leg is
    ``sampling.select_to_token_budget`` — best-price-first orders until
    a 500-unit cost budget fills (cost derived from the key; the
    testdata orders table carries no comment column), oracle-recomputed
    with a global running-sum window (affordable at oracle scale; the
    operator itself uses the range-partitioned distributed prefix
    sum) — and the
    ``sample`` leg is ``sampling.score_sample`` (keep-probability =
    per-row score, here 0.37 on every 97th order), oracle-recomputed
    from the same md5 bucket arithmetic."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.sampling import (
        score_sample,
        select_to_token_budget,
    )

    o = load(spark, sf, "orders")
    global_leg = (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            F.lit("global").alias("tag"),
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
        )
    )
    group_leg = topk_per_group(
        o,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    ).select(
        F.lit("group").alias("tag"), "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    budget_leg = select_to_token_budget(
        o.withColumn("_cost", (F.col("o_orderkey") % 50 + 10).cast("long")),
        "o_orderkey",
        "_cost",
        "o_totalprice",
        500,
        partitions=32,
    ).select(
        F.lit("budget").alias("tag"), "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    sample_leg = score_sample(
        o.withColumn(
            "_score",
            F.when(F.col("o_orderkey") % 97 == 0, F.lit(0.37)).otherwise(F.lit(0.0)),
        ),
        "o_orderkey",
        "_score",
    ).select(
        F.lit("sample").alias("tag"), "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return (
        global_leg.unionByName(group_leg)
        .unionByName(budget_leg)
        .unionByName(sample_leg)
    )


# --- set operations -----------------------------------------------------------

@query(
    "q_union_fill",
    oracle="""
    SELECT c_name AS name, c_mktsegment AS segment, 'customer' AS kind
    FROM customer
    UNION ALL
    SELECT s_name AS name, '' AS segment, 'supplier' AS kind
    FROM supplier
    """,
)
def q_union_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Heterogeneous union + fill (reference ``pd.concat(...).fillna("")``,
    ``…Local/ingestion/data_ingestion_batch.py:160``)."""
    c = load(spark, sf, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("customer").alias("kind"),
    )
    s = load(spark, sf, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("kind")
    )
    return union_fill([c, s])


# --- streaming batch analogs ---------------------------------------------------

@query(
    "q_event_windows",
    oracle="""
    SELECT 'tumbling' AS kind,
           strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S')
               AS k1,
           event_type AS k2, count(*) AS n
    FROM events
    GROUP BY 2, 3
    UNION ALL
    -- every event lies in exactly two 10-min/5-min-slide windows:
    -- its 5-min bucket and the bucket 5 minutes before it
    SELECT 'sliding' AS kind,
           strftime(time_bucket(INTERVAL '5 minutes', ts)
                    - off * INTERVAL '1 second', '%Y-%m-%d %H:%M:%S') AS k1,
           event_type AS k2, count(*) AS n
    FROM events, (SELECT unnest([0, 300]) AS off) offs
    GROUP BY 2, 3
    UNION ALL
    SELECT 'session' AS kind, k1, k2, n FROM (
      WITH g AS (
        SELECT user_id, event_id, ts,
               CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                         - lag(CAST(floor(epoch(ts)) AS BIGINT))
                           OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
      ),
      s AS (
        SELECT user_id, event_id,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
        FROM g
      )
      SELECT CAST(user_id AS VARCHAR) AS k1,
             CAST(session_id AS VARCHAR) AS k2, count(*) AS n
      FROM s GROUP BY user_id, session_id
    )
    UNION ALL
    SELECT 'funnel' AS kind, k1, k2, n FROM (
      WITH s1 AS (
        SELECT user_id, min(epoch_us(ts)) AS t1
        FROM events WHERE event_type = 'view' GROUP BY 1
      ),
      s2 AS (
        SELECT s1.user_id, min(epoch_us(e.ts)) AS t2, min(t1) AS t1
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
        GROUP BY 1
      ),
      s3 AS (
        SELECT s2.user_id, min(epoch_us(e.ts)) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
        GROUP BY 1
      )
      SELECT '1' AS k1, 'view' AS k2, (SELECT count(*) FROM s1) AS n
      UNION ALL
      SELECT '2', 'click', (SELECT count(*) FROM s2)
      UNION ALL
      SELECT '3', 'purchase', (SELECT count(*) FROM s3)
    )
    UNION ALL
    SELECT 'retention' AS kind,
           strftime(c, '%Y-%m-%d %H:%M:%S') AS k1,
           CAST(CAST((epoch(p) - epoch(c)) / 604800 AS BIGINT) AS VARCHAR) AS k2,
           count(DISTINCT user_id) AS n
    FROM (
      WITH act AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS p FROM events
      ),
      firsts AS (SELECT user_id, min(p) AS c FROM act GROUP BY 1)
      SELECT act.user_id, p, c FROM act JOIN firsts USING (user_id)
    )
    GROUP BY 1, 2, 3
    """,
)
def q_event_windows(spark: SparkSession, sf: str) -> DataFrame:
    """The batch twins of the streaming operators in one query (SURVEY
    §2.9): tumbling and sliding window counts (each event expands into its
    windows via one Expand node — no self-join) and 30-min-gap
    sessionization (the scalable lag+cumsum shape). Streaming versions
    live in ``streaming/events.py`` with watermarks. Folded in r5: the
    behavioral-analytics legs — the view→click→purchase ordered funnel
    (``relational.funnel_times``: greedy earliest-first chaining in
    epoch micros, oracle-recomputed via the nested min-join chain) and
    the weekly cohort-retention triangle
    (``relational.cohort_retention``, oracle-recomputed from first
    activity + elapsed-week arithmetic)."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import (
        cohort_retention,
        funnel_counts,
    )

    ev = load(spark, sf, "events")
    tumb = (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("tumbling").alias("kind"),
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("k1"),
            F.col("event_type").alias("k2"),
            "n",
        )
    )
    slide = (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("sliding").alias("kind"),
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("k1"),
            F.col("event_type").alias("k2"),
            "n",
        )
    )
    sess = (
        sessionize(ev, "user_id", "ts", 30)
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("session").alias("kind"),
            F.col("user_id").cast("string").alias("k1"),
            F.col("session_id").cast("string").alias("k2"),
            "n",
        )
    )
    funnel = funnel_counts(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).select(
        F.lit("funnel").alias("kind"),
        F.col("step").cast("string").alias("k1"),
        F.col("event_type").alias("k2"),
        F.col("n_keys").alias("n"),
    )
    ret = cohort_retention(ev, "user_id", "ts", "week").select(
        F.lit("retention").alias("kind"),
        F.date_format("cohort", "yyyy-MM-dd HH:mm:ss").alias("k1"),
        F.col("periods_since").cast("string").alias("k2"),
        F.col("n_active").alias("n"),
    )
    return (
        tumb.unionByName(slide)
        .unionByName(sess)
        .unionByName(funnel)
        .unionByName(ret)
    )


@query(
    "q_skew_join",
    oracle="""
    WITH skewed AS (
      SELECT event_id,
             CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k,
             value
      FROM events
    ),
    dim AS (SELECT DISTINCT user_id AS k, user_id * 10 AS dim_val FROM events)
    SELECT count(*) AS n, round(sum(value), 2) AS sum_value,
           CAST(sum(dim_val) AS BIGINT) AS sum_dim
    FROM skewed JOIN dim USING (k)
    """,
)
def q_skew_join(spark: SparkSession, sf: str) -> DataFrame:
    """Salted join under a manufactured hot key (a third of events collapse
    onto k=0): the salt spreads the hot partition across 8 shuffle
    partitions while staying row-identical to the plain join — the oracle
    IS the plain join."""
    from big_data___knowledge_graph_construction_with_llm_spark.operators.relational import salted_join

    ev = load(spark, sf, "events")
    skewed = ev.select(
        "event_id",
        F.when(F.col("user_id") % 3 == 0, 0).otherwise(F.col("user_id")).alias("k"),
        "value",
    )
    dim = ev.select(F.col("user_id").alias("k")).distinct().withColumn(
        "dim_val", F.col("k") * 10
    )
    joined = salted_join(skewed, dim, "k", num_salts=8)
    return joined.agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.sum("dim_val").cast("bigint").alias("sum_dim"),
    )


@query(
    "q_approx_sketches",
    oracle="""
    SELECT count(DISTINCT o_custkey) AS cd_cust,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.95), 2) AS p95,
           TRUE AS acd_within_3rsd,
           TRUE AS ap50_within_1pct,
           TRUE AS ap95_within_1pct
    FROM orders
    """,
)
def q_approx_sketches(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-based aggregates (the bounded-memory path the exact
    count-distinct / percentiles in q_order_stats swap to at 100 TB):
    approx_count_distinct (HLL++) and percentile_approx (KLL-ish).

    Hash-graded since r14 (VERDICT r13 #3): the raw estimates are
    engine-specific (no oracle can replay HLL++ register state), but
    their BOUNDED VERDICT is deterministic — the query emits the exact
    values plus one boolean per sketch asserting the estimate landed
    inside its documented bound, and the oracle emits the exact values
    plus literal TRUEs. Spark's sketches are deterministic for fixed
    input, so the booleans are stable; if an estimate ever drifts out
    of bound the hash flips and the row goes red. Bounds: HLL++ within
    3×rsd (0.06 — measured rel-err here is ~0.006); percentile_approx
    (accuracy=10000) within 1% of the exact interpolated percentile
    (rank error ≤ n/10000 rows). The fine-grained measured errors stay
    in BENCH_DETAIL's ``sketch_accuracy`` block.

    Aggregate split (r15): ``countDistinct`` runs ALONE in its own
    one-row aggregate; every non-distinct aggregate — both sketches
    AND both exact percentiles — fuses into ONE other aggregate over
    ONE scan. Mixing ``countDistinct`` with non-distinct aggregates
    makes Catalyst rewrite the whole Aggregate through an Expand (one
    duplicated row-stream per distinct group), dragging every
    co-resident sketch/sort buffer through 2× the rows — measured 8.3s
    mixed vs ~1.3s split at sf0.1 in r14; the r14 shape still paired
    ``countDistinct`` with the exact ``percentile``, so THAT leg's
    sort buffer paid the 2× Expand (the q_order_stats pathology).
    Because the exact percentiles share the sketch aggregate, this
    query is NOT itself bounded-memory: it carries the exact values to
    grade the sketches. A 100 TB job would keep only the two sketch
    expressions."""
    o = load(spark, sf, "orders")
    # one sketch buffer / one sort buffer for BOTH percentiles (the
    # array form), not one per quantile; exact percentiles ride the
    # same scan — all non-distinct, so no Expand rewrite
    est = o.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("acd_cust"),
        F.expr(
            "percentile_approx(o_totalprice, array(0.5, 0.95), 10000)"
        ).alias("aps"),
        F.expr("percentile(o_totalprice, array(0.5, 0.95))").alias("eps"),
    ).select(
        "acd_cust",
        F.col("aps")[0].alias("ap50"),
        F.col("aps")[1].alias("ap95"),
        F.col("eps")[0].alias("ep50"),
        F.col("eps")[1].alias("ep95"),
    )
    # countDistinct alone: Catalyst plans a plain two-phase distinct
    # aggregate (no Expand) over a column-pruned scan
    exact = o.agg(F.countDistinct("o_custkey").alias("cd_cust"))
    return est.crossJoin(F.broadcast(exact)).select(
        "cd_cust",
        F.round("ep50", 2).alias("p50"),
        F.round("ep95", 2).alias("p95"),
        (
            F.abs(F.col("acd_cust") - F.col("cd_cust")) / F.col("cd_cust")
            <= 0.06
        ).alias("acd_within_3rsd"),
        (F.abs(F.col("ap50") - F.col("ep50")) / F.col("ep50") <= 0.01).alias(
            "ap50_within_1pct"
        ),
        (F.abs(F.col("ap95") - F.col("ep95")) / F.col("ep95") <= 0.01).alias(
            "ap95_within_1pct"
        ),
    )
