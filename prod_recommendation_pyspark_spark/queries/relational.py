"""Relational query surface (SURVEY.md §2.1-2.8) on the TPC-H-ish
testdata tables.

Every query aliases computed columns identically in the DataFrame code
and the oracle SQL, and rounds floating aggregates so the driver's
value-hash compare is robust to summation-order ULP drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.functions.exact import davg, dstd, dsum
from prod_recommendation_pyspark_spark.operators.relational import (
    dedup_first_by_key,
    windowed_topk,
)
from prod_recommendation_pyspark_spark.queries.registry import register
from prod_recommendation_pyspark_spark.sources.catalog import Catalog
from prod_recommendation_pyspark_spark.sources.readers import latest_snapshot
from prod_recommendation_pyspark_spark.streaming.pipeline import scratch_dir


# --- TPC-H Q1 shape: scan → filter → groupBy 2 keys → 8 aggs → sort -------
@register(
    "q1_pricing_summary",
    sql="""
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                               AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*), 4) AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*), 4) AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*), 4) AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation pipeline parity: the reference's groupBy-agg pattern
    (SURVEY A2-A4; recommender_prod_rec.py:181-185,
    inference_postprocess.py:83,111) exercised at TPC-H Q1 width.
    Catalyst plans partial+final HashAggregate; filter and the 7-column
    projection push into the parquet scan."""
    li = Catalog(spark, sf_dir).table("lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))

    # Money sums accumulate via functions/exact.py::dsum (exact
    # DECIMAL(38,6), associative — immune to the partial-aggregation-
    # order ULP drift that flipped a rounded value in confidence_table
    # at sf0.1).  Averages divide the exact sum by count(*) — all
    # lineitem measure columns here are non-null.
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dsum(disc_price, 2).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax")), 2).alias("sum_charge"),
            F.round(dsum(F.col("l_quantity")) / n, 4).alias("avg_qty"),
            F.round(dsum(F.col("l_extendedprice")) / n, 4).alias("avg_price"),
            F.round(dsum(F.col("l_discount")) / n, 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- Flagship: join → agg → windowed top-K per group (penetration shape) --
@register(
    "topk_segments_by_nation",
    sql="""
    WITH revenue AS (
        SELECT n.n_name AS nation, c.c_mktsegment AS segment,
               CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, c.c_mktsegment
    )
    SELECT nation, segment, revenue, n_orders, rnk
    FROM (SELECT *, rank() OVER (PARTITION BY nation ORDER BY revenue DESC, segment) AS rnk
          FROM revenue)
    WHERE rnk <= 3
    ORDER BY nation, rnk, segment
    """,
)
def topk_segments_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query (SURVEY §7 Phase A): the penetration-table shape
    (inference_postprocess.py:98-122) — join → groupBy-agg → rank
    window → top-K filter → sort — recast on orders/customer/nation.

    Scale notes: nation (25 rows) is broadcast; the orders↔customer
    join shuffles on custkey and AQE picks broadcast for the dimension
    side when it fits; the rank-filter plans as WindowGroupLimit.  B16
    fix: rank is DESCENDING (top-K, not bottom-K), with a deterministic
    tiebreak on segment."""
    cat = Catalog(spark, sf_dir)
    rev = (
        cat.table("orders")
        .join(cat.table("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cat.table("nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"))
        .agg(
            dsum(F.col("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return (
        windowed_topk(
            rev,
            "nation",
            [F.col("revenue").desc(), F.col("segment")],
            k=3,
            rank_fn=F.rank,
            rank_col="rnk",
        )
        .select("nation", "segment", "revenue", "n_orders", "rnk")
        .orderBy("nation", "rnk", "segment")
    )


# --- Broadcast equi-join (J2) + agg -----------------------------------------
@register(
    "brand_revenue_broadcast_join",
    sql="""
    SELECT p.p_brand AS brand,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
           CAST(round(sum(CAST(l.l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS total_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)
def brand_revenue_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 parity — the reference's one explicit physical hint,
    ``broadcast(target)`` (search_ranking_peers.py:337): fact↔dim join
    with the dimension broadcast so the 6M-row (100 TB: multi-billion)
    lineitem side never shuffles."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.table("lineitem")
        .join(F.broadcast(cat.table("part")), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue"),
            dsum(F.col("l_quantity"), 2).alias("total_qty"),
        )
        .orderBy("brand")
    )


# --- Dedup-first-by-key (A1, deterministic) --------------------------------
@register(
    "dedup_first_customer_per_nation",
    sql="""
    SELECT c_nationkey, c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
    FROM (SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
          FROM customer)
    WHERE rn = 1
    ORDER BY c_nationkey
    """,
)
def dedup_first_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 parity — dedup-by-key-keep-first
    (search_ranking_peers.py:178-188) made deterministic via
    row_number over an explicit order (SURVEY §8 note on
    nondeterministic ``first()``)."""
    cust = Catalog(spark, sf_dir).table("customer")
    return (
        dedup_first_by_key(cust, "c_nationkey", order_by="c_custkey")
        .select(
            "c_nationkey",
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
        )
        .orderBy("c_nationkey")
    )


# --- Set operations (U1 + extensions) ---------------------------------------
@register(
    "set_ops_customer_segments",
    sql="""
    WITH b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         a AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    SELECT 'union' AS op, count(*) AS n FROM (SELECT * FROM b UNION SELECT * FROM a)
    UNION ALL
    SELECT 'intersect' AS op, count(*) AS n FROM (SELECT * FROM b INTERSECT SELECT * FROM a)
    UNION ALL
    SELECT 'except' AS op, count(*) AS n FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
    ORDER BY op
    """,
)
def set_ops_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 parity + the set ops the reference lacks (SURVEY §2.7 notes
    no intersect/except): union-distinct, intersect, except as
    first-class operators."""
    cust = Catalog(spark, sf_dir).table("customer")
    b = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    a = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")

    def count_of(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        count_of(b.union(a).distinct(), "union")
        .unionByName(count_of(b.intersect(a), "intersect"))
        .unionByName(count_of(b.exceptAll(a.distinct()).distinct(), "except"))
        .orderBy("op")
    )


# --- Scalar function surface (F1-F7) ----------------------------------------
@register(
    "scalar_functions_part",
    sql="""
    SELECT p_partkey,
           upper(p_brand)                          AS brand_upper,
           lower(p_type)                           AS type_lower,
           trim(concat('  ', p_name, '  '))        AS name_trimmed,
           substring(p_type, 1, 5)                 AS type_prefix,
           length(p_name)                          AS name_len,
           round(log10(p_retailprice), 4)          AS log_price,
           round(sqrt(p_size), 4)                  AS sqrt_size,
           p_size % 7                              AS size_mod,
           CASE WHEN p_size >= 25 THEN 'large' WHEN p_size >= 10 THEN 'medium'
                ELSE 'small' END                   AS size_class
    FROM part
    ORDER BY p_partkey
    """,
)
def scalar_functions_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F4 parity (log10 search_ranking_peers.py:422, trim
    inference_postprocess.py:88, upper :466/B12, arithmetic) plus the
    string/math surface a complete engine needs — all native Catalyst
    expressions inside one whole-stage-codegen projection."""
    part = Catalog(spark, sf_dir).table("part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("name_trimmed"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.round(F.log10("p_retailprice"), 4).alias("log_price"),
        F.round(F.sqrt("p_size"), 4).alias("sqrt_size"),
        (F.col("p_size") % 7).alias("size_mod"),
        F.when(F.col("p_size") >= 25, "large")
        .when(F.col("p_size") >= 10, "medium")
        .otherwise("small")
        .alias("size_class"),
    ).orderBy("p_partkey")


# --- Window-function analytics surface (W1-W3 + full ranking set) -----------
@register(
    "window_analytics_orders",
    sql="""
    SELECT o_custkey, o_orderkey,
           round(o_totalprice, 2) AS price,
           row_number()   OVER w AS rn,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(lag(o_totalprice)  OVER w, 2) AS prev_price,
           round(lead(o_totalprice) OVER w, 2) AS next_price,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, rn
    """,
)
def window_analytics_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full analytic-window surface (SURVEY §2.5 notes windowed top-K
    is load-bearing in 2 of 3 reference outputs; W1 percent_rank is
    the ALS preprocessing normalizer recommender_prod_rec.py:171-176).
    One window spec shared by all ranking functions → a single sort +
    shuffle on o_custkey."""
    orders = Catalog(spark, sf_dir).table("orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.round(F.sum("o_totalprice").over(running), 2).alias("running_total"),
    ).orderBy("o_custkey", "rn")


# --- Conditional / null handling (P2-P3, P7, P10-P11) -----------------------
@register(
    "conditional_null_handling",
    sql="""
    SELECT c_custkey,
           CASE WHEN c_acctbal IS NULL OR c_acctbal <= 0 THEN 1.0
                ELSE round(c_acctbal, 2) END                   AS floored_bal,
           coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_masked,
           (c_acctbal IS NOT NULL AND c_acctbal > 0)            AS is_positive
    FROM customer
    WHERE c_mktsegment <> 'RST'
    ORDER BY c_custkey
    """,
)
def conditional_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 parity — the nonpositive/null→1.0 floor guard
    (search_ranking_peers.py:419-421) plus null-predicate filters
    (P2/P3: coname != 'RST' :344, isNotNull
    inference_postprocess.py:81,110 with the B17 AND fix)."""
    cust = Catalog(spark, sf_dir).table("customer")
    return (
        cust.filter(F.col("c_mktsegment") != "RST")
        .select(
            "c_custkey",
            F.when(
                F.col("c_acctbal").isNull() | (F.col("c_acctbal") <= 0), F.lit(1.0)
            )
            .otherwise(F.round("c_acctbal", 2))
            .alias("floored_bal"),
            F.coalesce(
                F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("OTHER")
            ).alias("segment_masked"),
            (F.col("c_acctbal").isNotNull() & (F.col("c_acctbal") > 0)).alias(
                "is_positive"
            ),
        )
        .orderBy("c_custkey")
    )


# --- Scalar aggregates / stats (A5-A9) ---------------------------------------
@register(
    "agg_stats_orders",
    sql="""
    SELECT o_orderstatus,
           count(*)                           AS n_rows,
           count(DISTINCT o_custkey)          AS n_customers,
           round(min(o_totalprice), 2)        AS min_price,
           round(max(o_totalprice), 2)        AS max_price,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                 / count(o_totalprice), 4) AS avg_price,
           CASE WHEN count(o_totalprice) < 2 THEN NULL
                ELSE round(sqrt(greatest(
                     (CAST(sum(CAST(o_totalprice * o_totalprice
                                    AS DECIMAL(38,6))) AS DOUBLE)
                      - CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                        * CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
                               AS DOUBLE)
                        / count(o_totalprice))
                     / (count(o_totalprice) - 1), 0.0)), 4) END AS std_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def agg_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5-A9 parity — scalar max (search_ranking_peers.py:373),
    distinct count (:406), row count (recommender_prod_rec.py:178),
    describe() stats (inference_postprocess.py:66) as one grouped
    aggregate instead of N driver round-trips."""
    orders = Catalog(spark, sf_dir).table("orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            davg(F.col("o_totalprice"), 4).alias("avg_price"),
            dstd(F.col("o_totalprice"), 4).alias("std_price"),
        )
        .orderBy("o_orderstatus")
    )


# --- Latest-snapshot partition pruning (S4) ----------------------------------
@register(
    "latest_snapshot_events",
    sql="""
    WITH dated AS (SELECT *, CAST(ts AS DATE) AS snapshot_date FROM events),
         latest AS (SELECT max(snapshot_date) AS d FROM dated)
    SELECT event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_value
    FROM dated, latest WHERE dated.snapshot_date = latest.d
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def latest_snapshot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 parity — latest-partition discovery.  The reference resolves
    the newest YYYYMMDD S3 directory with driver-side boto3 calls
    (search_ranking_peers.py:87-151); here it is a partition-pruned
    scan (``latest_snapshot``): on a date-partitioned table the max()
    is answered from partition metadata and the equality becomes a
    PartitionFilter."""
    ev = Catalog(spark, sf_dir).table("events").withColumn(
        "snapshot_date", F.col("ts").cast("date")
    )
    return (
        latest_snapshot(ev, "snapshot_date")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


# --- Multi-way join with semi/anti (join-surface completeness) ---------------
@register(
    "semi_anti_join_customers",
    sql="""
    SELECT
      (SELECT count(*) FROM customer c WHERE EXISTS
         (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)) AS n_big_spenders,
      (SELECT count(*) FROM customer c WHERE NOT EXISTS
         (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_no_orders
    """,
)
def semi_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-kind completeness beyond the reference's left/inner/right
    set (SURVEY §2.3): left-semi (EXISTS) and left-anti (NOT EXISTS) —
    at scale these avoid materializing the join payload entirely."""
    cat = Catalog(spark, sf_dir)
    cust, orders = cat.table("customer"), cat.table("orders")
    big = orders.filter(F.col("o_totalprice") > 300000)
    n_semi = cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").count()
    n_anti = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").count()
    return spark.createDataFrame(
        [(n_semi, n_anti)], "n_big_spenders bigint, n_no_orders bigint"
    )


# --- Grouping sets / rollup / cube / pivot (agg completeness) ----------------
@register(
    "rollup_nation_segment",
    sql="""
    SELECT coalesce(n.n_name, 'ALL') AS nation,
           coalesce(c.c_mktsegment, 'ALL') AS segment,
           count(*) AS n_customers,
           CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
    ORDER BY nation, segment
    """,
)
def rollup_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregates (absent from the reference — SURVEY
    §2.4 'no grouping sets/cube/rollup'; a complete engine ships
    them).  ROLLUP plans as a single Expand + HashAggregate — one
    pass over the fact table for all grouping levels."""
    cat = Catalog(spark, sf_dir)
    joined = cat.table("customer").join(
        F.broadcast(cat.table("nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return (
        joined.rollup("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal"), 2).alias("total_bal"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            "n_customers",
            "total_bal",
        )
        .orderBy("nation", "segment")
    )


@register(
    "pivot_status_by_priority",
    sql="""
    SELECT o_orderpriority,
           CAST(round(sum(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS DECIMAL(38,6))), 2) AS DOUBLE) AS F,
           CAST(round(sum(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS DECIMAL(38,6))), 2) AS DOUBLE) AS O,
           CAST(round(sum(CAST(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END AS DECIMAL(38,6))), 2) AS DOUBLE) AS P
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (engine-completeness op).  Explicit value list so the plan
    is a single aggregate with conditional sums — no extra pass to
    discover pivot values (that discovery is a collect at scale)."""
    orders = Catalog(spark, sf_dir).table("orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(dsum(F.col("o_totalprice"), 2))
        .orderBy("o_orderpriority")
    )


# --- SQL entry point (spark.sql over registered views) -----------------------
# The reference never calls spark.sql (SURVEY §3); the engine still
# exposes the full SQL surface: Catalog.register_all + one portable
# ANSI string that runs VERBATIM on both Spark SQL and the DuckDB
# oracle — dialect-portability is the test.
_Q3_SQL = """
    SELECT l_orderkey,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < DATE '1997-01-01'
      AND l_shipdate > DATE '1997-01-01'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, order_date, l_orderkey
    LIMIT 10
    """


@register("q3_shipping_priority_sql", sql=_Q3_SQL)
def q3_shipping_priority_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped query issued through ``spark.sql`` over
    catalog-registered views — demonstrates the SQL entry point; the
    oracle is the *identical* SQL string."""
    Catalog(spark, sf_dir).register_all(["customer", "orders", "lineitem"])
    return spark.sql(_Q3_SQL)


@register(
    "cube_status_priority",
    sql="""
    SELECT coalesce(o_orderstatus, 'ALL')    AS status,
           coalesce(o_orderpriority, 'ALL')  AS priority,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) — all 2^n grouping sets in one
    Expand + HashAggregate pass (completes the grouping-sets surface
    next to ROLLUP and pivot)."""
    orders = Catalog(spark, sf_dir).table("orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
        .orderBy("status", "priority")
    )


@register(
    "percentiles_price_by_status",
    sql="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def percentiles_price_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``).  At 100 TB swap to
    ``percentile_approx`` — exact percentile buffers each group's
    values; the approx sketch is mergeable and bounded-memory."""
    orders = Catalog(spark, sf_dir).table("orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
            F.round(F.percentile("o_totalprice", F.lit(0.50)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.75)), 4).alias("p75"),
        )
        .orderBy("o_orderstatus")
    )


# --- S1/S5/S6/S7: sink → source round-trip, driver-checkable ---------------
@register(
    "sink_roundtrip_nation",
    sql="""
    SELECT n_nationkey,
           n_name      AS name_csv,
           n_name      AS name_parquet,
           n_name      AS name_json,
           n_regionkey AS region_pipe
    FROM nation
    ORDER BY n_nationkey
    """,
)
def sink_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6/S7 sinks + S1/S2/S3 readers as one driver-checkable
    round-trip: write ``nation`` through the CSV, parquet, JSON, and
    pipe-CSV paths (sources/writers.py:16-41), read each back with the
    matching reader, and join all four on the key — any write/read
    asymmetry (quoting, type coercion, header handling) breaks the
    value hash against the plain ``nation`` oracle.

    Per-invocation temp dir (same isolation as ``zorder_layout_events``
    — concurrent sweeps must not overwrite each other's files mid-read;
    cleanup deferred to process exit since the returned plan scans the
    files lazily); ``single_file`` exercises the reference's
    coalesce(1) report shape (search_ranking_peers.py:168-173)."""
    from prod_recommendation_pyspark_spark.sources.readers import (
        read_csv,
        read_json,
        read_parquet,
        read_pipe_csv,
    )
    from prod_recommendation_pyspark_spark.sources.writers import (
        write_csv,
        write_json,
        write_parquet,
    )

    nation = Catalog(spark, sf_dir).table("nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    base = scratch_dir("spark_graft_roundtrip_")
    write_csv(nation, f"{base}/nation_csv", single_file=True)
    write_parquet(nation, f"{base}/nation_parquet")
    write_json(nation, f"{base}/nation_json")
    # S5 variant: pipe-delimited (the reference's native format)
    nation.write.mode("overwrite").option("delimiter", "|").option(
        "header", True
    ).csv(f"{base}/nation_pipe")

    schema = "n_nationkey long, n_name string, n_regionkey long"
    # S2 reader: schema-on-read strings, repaired by cast (the
    # reference's pattern at search_ranking_peers.py:346-348)
    csv_back = read_csv(spark, f"{base}/nation_csv", infer_schema=False).select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name"
    )
    pq_back = read_parquet(spark, f"{base}/nation_parquet")
    js_back = read_json(spark, f"{base}/nation_json", schema=schema)
    pipe_back = read_pipe_csv(spark, f"{base}/nation_pipe")  # all-string (S1)
    return (
        csv_back.select("n_nationkey", F.col("n_name").alias("name_csv"))
        .join(
            pq_back.select("n_nationkey", F.col("n_name").alias("name_parquet")),
            "n_nationkey",
        )
        .join(
            js_back.select("n_nationkey", F.col("n_name").alias("name_json")),
            "n_nationkey",
        )
        .join(
            pipe_back.select(
                F.col("n_nationkey").cast("long").alias("n_nationkey"),
                F.col("n_regionkey").cast("long").alias("region_pipe"),
            ),
            "n_nationkey",
        )
        .orderBy("n_nationkey")
    )


# --- Data-quality validation gate, driver-checkable ------------------------
@register(
    "data_quality_orders",
    sql="""
    WITH m AS (
        SELECT count(*) AS n,
               avg(CASE WHEN o_custkey IS NOT NULL THEN 1.0 ELSE 0.0 END)
                   AS comp,
               count(DISTINCT o_orderkey) * 1.0 / count(*) AS uniq,
               min(o_totalprice) AS mn,
               avg(CASE WHEN o_orderstatus IN ('O', 'F', 'P')
                        THEN 1.0 ELSE 0.0 END) AS inset
        FROM orders),
    fk AS (
        SELECT count(*) AS orphans
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL)
    SELECT 'completeness_o_custkey' AS "check", round(comp, 6) AS metric,
           comp >= 1.0 AS passed FROM m
    UNION ALL SELECT 'fk_orders_customer', round(CAST(orphans AS DOUBLE), 6),
                     orphans = 0 FROM fk
    UNION ALL SELECT 'in_set_o_orderstatus', round(inset, 6),
                     inset >= 1.0 FROM m
    UNION ALL SELECT 'non_negative_o_totalprice', round(CAST(mn AS DOUBLE), 6),
                     mn >= 0 FROM m
    UNION ALL SELECT 'row_count', round(CAST(n AS DOUBLE), 6), n > 0 FROM m
    UNION ALL SELECT 'uniqueness_o_orderkey', round(uniq, 6),
                     uniq >= 1.0 FROM m
    ORDER BY "check"
    """,
)
def data_quality_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style publication gate (operators/quality.py): five
    column checks compiled into ONE aggregation pass over orders (N
    checks = one scan + a one-row shuffle at any scale) plus the
    orders→customer referential check as an anti-join count.  Output
    is the tiny (check, metric, passed) table a pipeline gates on;
    every metric value and verdict is under the oracle hash."""
    from prod_recommendation_pyspark_spark.operators.quality import (
        column_checks,
        completeness,
        fk_check,
        in_set_fraction,
        non_negative,
        row_count,
        uniqueness,
    )

    orders = Catalog(spark, sf_dir).table("orders")
    customer = Catalog(spark, sf_dir).table("customer")
    cols = column_checks(
        orders,
        {
            "row_count": row_count(),
            "completeness_o_custkey": completeness("o_custkey"),
            "uniqueness_o_orderkey": uniqueness("o_orderkey"),
            "non_negative_o_totalprice": non_negative("o_totalprice"),
            "in_set_o_orderstatus": in_set_fraction(
                "o_orderstatus", ["O", "F", "P"]
            ),
        },
    )
    fk = fk_check(orders, customer, "o_custkey", "c_custkey",
                  "fk_orders_customer")
    return cols.unionByName(fk).orderBy("check")


# --- CDC merge/upsert, driver-checkable ------------------------------------
@register(
    "merge_upsert_customers",
    sql="""
    SELECT c_custkey, c_name, c_mktsegment,
           round(c_acctbal + 100, 2) AS c_acctbal
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT -c_custkey, c_name, c_mktsegment, round(c_acctbal, 2)
    FROM customer WHERE c_custkey % 50 = 7
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2)
    FROM customer WHERE c_custkey % 10 <> 0 AND c_custkey % 25 <> 3
    ORDER BY c_custkey
    """,
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (operators/relational.py::merge_upsert) against the
    customer dimension with a deterministic change batch derived from
    the table itself: keys %10==0 are updates (+100 balance), %50==7
    are inserts (key NEGATED — customer keys are positive at every
    scale factor, so insert keys can never collide with an existing
    row no matter how large the table grows), %25==3 are deletes (the
    three residue classes are pairwise disjoint).  The oracle states the
    post-merge table directly — update rows carry the new balance,
    deleted keys are absent, inserts appear — so the hash pins the
    full matched/unmatched/delete semantics, not just row counts."""
    from prod_recommendation_pyspark_spark.operators.relational import (
        merge_upsert,
    )

    cols = ["c_custkey", "c_name", "c_mktsegment", "c_acctbal"]
    cust = Catalog(spark, sf_dir).table("customer").select(*cols)
    key = F.col("c_custkey")
    updates = (
        cust.filter(key % 10 == 0)
        .withColumn("c_acctbal", F.round(F.col("c_acctbal") + 100, 2))
        .withColumn("__deleted", F.lit(False))
    )
    deletes = cust.filter(key % 25 == 3).withColumn("__deleted", F.lit(True))
    inserts = (
        cust.filter(key % 50 == 7)
        .withColumn("c_custkey", -key)
        .withColumn("__deleted", F.lit(False))
    )
    batch = updates.unionByName(deletes).unionByName(inserts)
    merged = merge_upsert(cust, batch, ["c_custkey"], delete_col="__deleted")
    return merged.select(
        "c_custkey", "c_name", "c_mktsegment",
        F.round("c_acctbal", 2).alias("c_acctbal"),
    ).orderBy("c_custkey")


# --- Z-order layout write → read-back, driver-checkable --------------------
# Morton code oracle: bit b of the user rank lands at 2b, of the value
# rank at 2b+1 — generated to mirror operators/layout.py::interleave_bits
_Z_TERMS = " + ".join(
    f"(((xu >> {b}) & 1) << {2 * b}) + (((xv >> {b}) & 1) << {2 * b + 1})"
    for b in range(16)
)


@register(
    "zorder_layout_events",
    sql=f"""
    WITH s AS (SELECT min(CAST(user_id AS DOUBLE)) AS mn_u,
                      max(CAST(user_id AS DOUBLE)) AS mx_u,
                      min(CAST(value AS DOUBLE)) AS mn_v,
                      max(CAST(value AS DOUBLE)) AS mx_v
               FROM events),
    r AS (SELECT event_id,
                 CAST(CASE WHEN mx_u - mn_u > 0
                      THEN floor(((CAST(user_id AS DOUBLE) - mn_u) * 65535.0)
                                 / (mx_u - mn_u))
                      ELSE 0 END AS BIGINT) AS xu,
                 CAST(CASE WHEN mx_v - mn_v > 0
                      THEN floor(((CAST(value AS DOUBLE) - mn_v) * 65535.0)
                                 / (mx_v - mn_v))
                      ELSE 0 END AS BIGINT) AS xv
          FROM events CROSS JOIN s)
    SELECT event_id, CAST({_Z_TERMS} AS BIGINT) AS zvalue
    FROM r ORDER BY event_id
    """,
)
def zorder_layout_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering write → read-back
    (operators/layout.py): events are range-partitioned and sorted by
    the bit-interleaved (user_id, value) code so every output file
    covers a compact rectangle of the 2-D value space — min/max file
    pruning then serves filters on EITHER column, the plain-parquet
    equivalent of a lakehouse OPTIMIZE ZORDER.  The returned z-values
    are recomputed from the read-back files, so the value hash covers
    both the lossless layout round-trip and the bit-exact Morton
    arithmetic (the DuckDB oracle replays the identical shift/mask
    sum).  The skipping benefit itself (per-file min/max span
    shrinkage on BOTH columns) is pinned by a pyarrow footer-stats
    pytest."""
    from prod_recommendation_pyspark_spark.operators.layout import (
        write_zordered,
        zorder_value,
    )

    ev = Catalog(spark, sf_dir).table("events")
    # Per-invocation temp dir: concurrent runs (parallel bench/oracle
    # sweeps, pytest-xdist) each get an isolated path, and nothing
    # lands in the repo tree.  The returned DataFrame scans these
    # files lazily, so cleanup is deferred to process exit rather
    # than racing the consumer's collect().
    base = scratch_dir("spark_graft_zorder_")
    write_zordered(ev, f"{base}/events_z", ["user_id", "value"], bits=16,
                   n_files=8)
    back = spark.read.parquet(f"{base}/events_z")
    z = zorder_value(back, ["user_id", "value"], bits=16)
    return z.select(
        "event_id", F.col("z").alias("zvalue")
    ).orderBy("event_id")


# --- Skew-salted two-stage aggregation, driver-checkable -------------------
@register(
    "salted_agg_returnflag",
    sql="""
    SELECT l_returnflag,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS sum_qty,
           count(*)                       AS n_rows,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def salted_agg_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted aggregation (operators/relational.py::salted_agg)
    on a genuinely hot grouping key — ``l_returnflag`` has 3 values
    over the whole fact table, exactly the shape where one reducer
    would otherwise absorb ~a third of 100 TB.  Stage 1 aggregates on
    (key, pmod-salt) spreading each hot key over 16 reducers; stage 2
    merges partials.  The salt is a deterministic row hash, so the
    result is bit-identical to the plain GROUP BY oracle."""
    from prod_recommendation_pyspark_spark.operators.relational import salted_agg

    li = Catalog(spark, sf_dir).table("lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return salted_agg(
        li,
        ["l_returnflag"],
        aggs=[
            F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("pq"),
            F.count(F.lit(1)).alias("pc"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("pp"),
        ],
        final_aggs=[
            F.round(F.sum("pq"), 2).cast("double").alias("sum_qty"),
            F.sum("pc").alias("n_rows"),
            F.round(F.sum("pp"), 2).cast("double").alias("sum_price"),
        ],
    ).orderBy("l_returnflag")


@register(
    "auto_salted_agg_returnflag",
    sql="""
    WITH mx AS (SELECT max(c) AS m FROM (
            SELECT count(*) AS c FROM lineitem GROUP BY l_returnflag)),
    lad AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128, 256]) AS w),
    -- coalesce(m, 0): an EMPTY input must pick rung 1 on both sides
    -- (Python's derive_salt_factor treats a NULL max count as 0; a
    -- bare NULL comparison here would filter every rung and fall to
    -- the 256 default instead — round-11 advice)
    pick AS (SELECT coalesce(min(w), 256) AS s FROM lad CROSS JOIN mx
             WHERE w * 4096 >= coalesce(m, 0))
    SELECT l_returnflag,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS sum_qty,
           count(*)                       AS n_rows,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS sum_price,
           CAST((SELECT s FROM pick) AS BIGINT) AS n_salts
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def auto_salted_agg_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted aggregation with its salt factor DERIVED from the
    measured hot-key count (``salted_agg(n_salts=None)`` →
    ``derive_salt_factor``) — the third remove-the-pinned-constant
    derivation this round after the rank window and the IVF centroid
    density: the smallest power-of-two rung whose per-reducer share of
    the hottest key fits ``target_rows_per_task`` (4096 here so the
    derivation actually climbs the ladder at driver scales; production
    targets are ~2M).  The derived factor rides along as the
    ``n_salts`` column, so the hash pins the DERIVATION (the oracle
    replays the rung pick with the same integer ``w·target ≥ max``
    arithmetic) as well as the salt-invariant aggregate values."""
    from prod_recommendation_pyspark_spark.operators.relational import (
        derive_salt_factor,
        salted_agg,
    )

    li = Catalog(spark, sf_dir).table("lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    n = derive_salt_factor(li, ["l_returnflag"], target_rows_per_task=4096)
    return salted_agg(
        li,
        ["l_returnflag"],
        aggs=[
            F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("pq"),
            F.count(F.lit(1)).alias("pc"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("pp"),
        ],
        final_aggs=[
            F.round(F.sum("pq"), 2).cast("double").alias("sum_qty"),
            F.sum("pc").alias("n_rows"),
            F.round(F.sum("pp"), 2).cast("double").alias("sum_price"),
        ],
        n_salts=n,
    ).withColumn("n_salts", F.lit(n).cast("long")).orderBy("l_returnflag")


@register(
    "salted_join_supplier_revenue",
    sql="""
    SELECT s_nationkey,
           count(*) AS n_items,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    ORDER BY s_nationkey
    """,
)
def salted_join_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact↔dimension join
    (operators/relational.py::salted_join): lineitem probes supplier
    on the join key the skew profiler (`skew_profile_lineitem_suppkey`)
    diagnoses — the fact side is salted 8 ways, the dimension
    replicated ×8, and the join runs on (key, salt) so a hot supplier's
    rows spread over 8 reducers instead of one straggler.  The salt is
    a deterministic row hash, so the revenue rollup is bit-identical
    to the plain-join oracle.  (At THIS key's measured skew_x ≈ 1 the
    salt is overhead — the query exists to pin the operator's
    semantics; production use is gated on the profiler's verdict,
    and broadcast/AQE remain the first resorts per the docstring.)"""
    from prod_recommendation_pyspark_spark.operators.relational import salted_join

    cat = Catalog(spark, sf_dir)
    li = cat.table("lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = cat.table("supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    return (
        salted_join(li, supp, ["l_suppkey"], n_salts=8)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("s_nationkey")
    )


# --- U2: deterministic split (randomSplit replacement), stratified counts ---
@register(
    "modulo_split_customer_strata",
    sql="""
    SELECT CASE WHEN c_custkey % 10 < 8 THEN 'train' ELSE 'test' END AS split,
           c_mktsegment AS segment,
           count(*) AS n,
           round(avg(c_acctbal), 2) AS avg_bal
    FROM customer
    GROUP BY 1, 2
    ORDER BY split, segment
    """,
)
def modulo_split_customer_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 made deterministic: key-arithmetic train/test split
    (operators/relational.py::modulo_split — the engine's randomSplit
    replacement, like the blocked kernels' pmod slices) with per-
    stratum counts and means, proving the split is reproducible
    cross-engine (the oracle recomputes membership from scratch)."""
    from prod_recommendation_pyspark_spark.operators.relational import (
        modulo_split,
    )

    cust = Catalog(spark, sf_dir).table("customer")
    return (
        modulo_split(cust, "c_custkey", n_buckets=10, train_buckets=8)
        .groupBy("split", F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        )
        .orderBy("split", "segment")
    )


# --- S-family: schema evolution across file batches -------------------------
@register(
    "schema_evolution_nation",
    sql="""
    SELECT n_nationkey, n_name,
           CASE WHEN n_nationkey < 12 THEN NULL
                ELSE n_regionkey END AS n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
)
def schema_evolution_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (the S-family case every long-lived
    dataset hits: files written before a column existed live next to
    files written after): batch 1 (keys < 12) is written WITHOUT
    ``n_regionkey``, batch 2 with it; ``mergeSchema=true`` reads both
    under the union schema, old rows surfacing NULL for the new
    column.  The value hash pins the union-schema semantics — a reader
    that dropped the column, defaulted it to 0, or refused the mixed
    directory all fail.  At 100 TB mergeSchema's footer sampling is
    the cost knob: evolve-by-ADD keeps it cheap, and a table format's
    schema registry replaces it entirely — this is the plain-parquet
    contract."""
    nation = Catalog(spark, sf_dir).table("nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    base = scratch_dir("spark_graft_evolve_")
    old = nation.filter(F.col("n_nationkey") < 12).drop("n_regionkey")
    new = nation.filter(F.col("n_nationkey") >= 12)
    old.write.parquet(f"{base}/t/batch=1")
    new.write.parquet(f"{base}/t/batch=2")
    back = (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{base}/t")
        .drop("batch")
    )
    return back.select("n_nationkey", "n_name", "n_regionkey").orderBy(
        "n_nationkey"
    )


# --- S-family: ORC sink/scan round-trip --------------------------------------
@register(
    "orc_roundtrip_nation",
    sql="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
)
def orc_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan round-trip — the columnar format beside parquet
    (Spark ships the ORC reader/writer natively; same predicate
    pushdown / column pruning machinery).  The value hash pins the
    lossless type round-trip against the plain table; per-invocation
    temp dir as in the other sink queries."""
    nation = Catalog(spark, sf_dir).table("nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    base = scratch_dir("spark_graft_orc_")
    nation.write.mode("overwrite").orc(f"{base}/nation_orc")
    return (
        spark.read.orc(f"{base}/nation_orc")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )


# --- Join-key skew profiler -------------------------------------------------
@register(
    "skew_profile_lineitem_suppkey",
    sql="""
    WITH c AS (SELECT l_suppkey, count(*) AS cnt
               FROM lineitem GROUP BY l_suppkey),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                 count(*) AS n_keys FROM c),
    top AS (SELECT l_suppkey, cnt FROM c
            ORDER BY cnt DESC, l_suppkey LIMIT 5),
    r AS (SELECT l_suppkey, cnt,
                 row_number() OVER (ORDER BY cnt DESC, l_suppkey) AS rank,
                 sum(cnt) OVER (ORDER BY cnt DESC, l_suppkey
                                ROWS UNBOUNDED PRECEDING) AS cum_cnt
          FROM top)
    SELECT r.rank, r.l_suppkey, CAST(r.cnt AS BIGINT) AS cnt,
           round(CAST(r.cnt AS DOUBLE) / t.n_rows, 6) AS share,
           round(CAST(r.cum_cnt AS DOUBLE) / t.n_rows, 6) AS cum_share,
           round(CAST(r.cnt AS DOUBLE) * t.n_keys / t.n_rows, 4) AS skew_x,
           t.n_rows, CAST(t.n_keys AS BIGINT) AS n_keys
    FROM r CROSS JOIN t
    ORDER BY r.rank
    """,
)
def skew_profile_lineitem_suppkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile: the diagnostic that decides whether a
    shuffle key needs salting (operators/relational.py::salted_agg)
    or AQE's skew-join split will do — top-5 heaviest keys with their
    share, cumulative share, and ``skew_x`` = key count over the
    uniform-key expectation N/K (skew_x ≈ 1 everywhere → no salt;
    one key at skew_x ≫ 10 → that key's reducer is the straggler).

    Scale shape: one grouped count on the join key, a 2-cell total,
    and a distributed TakeOrdered for the top-5 — the ranking window
    runs AFTER the limit, on 5 rows, so there is no global
    single-partition window no matter how many distinct keys exist
    (the naive rank-then-filter formulation collapses K keys to one
    task; at 10⁹ keys that is the straggler this query exists to
    find).  All emitted ratios are single IEEE divisions of exact
    integers — engine-identical."""
    li = Catalog(spark, sf_dir).table("lineitem")
    c = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.agg(
        F.sum("cnt").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    top = c.orderBy(F.desc("cnt"), "l_suppkey").limit(5)
    w = Window.orderBy(F.desc("cnt"), "l_suppkey")
    r = top.select(
        F.row_number().over(w).alias("rank"),
        "l_suppkey",
        "cnt",
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_cnt"),
    )
    return (
        r.crossJoin(F.broadcast(t))
        .select(
            "rank",
            "l_suppkey",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n_rows"), 6).alias(
                "share"
            ),
            F.round(
                F.col("cum_cnt").cast("double") / F.col("n_rows"), 6
            ).alias("cum_share"),
            F.round(
                F.col("cnt").cast("double")
                * F.col("n_keys")
                / F.col("n_rows"),
                4,
            ).alias("skew_x"),
            "n_rows",
            "n_keys",
        )
        .orderBy("rank")
    )


# --- Winsorization: percentile clipping before scaling ----------------------
@register(
    "winsorize_acctbal_segments",
    sql="""
    WITH q AS (SELECT quantile_cont(c_acctbal, 0.01) AS lo,
                      quantile_cont(c_acctbal, 0.99) AS hi
               FROM customer),
    w AS (SELECT c_mktsegment,
                 least(greatest(c_acctbal, lo), hi) AS bw, lo, hi
          FROM customer CROSS JOIN q)
    SELECT c_mktsegment AS segment,
           count(*) AS n,
           round(CAST(sum(CAST(bw AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*), 4) AS avg_w,
           CAST(round(sum(CAST(bw AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_w,
           round(any_value(lo), 4) AS lo,
           round(any_value(hi), 4) AS hi
    FROM w
    GROUP BY 1
    ORDER BY 1
    """,
)
def winsorize_acctbal_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (features/scaling.py::winsorize): account
    balances clipped at the exact global p01/p99 before a per-segment
    rollup — the heavy-tail tamer that keeps one corrupt reading from
    stretching a min-max range or blowing a z-score variance.  Exact
    ``F.percentile`` ≡ DuckDB ``quantile_cont`` (linear
    interpolation, the parity `quantile_bins_totalprice` pins);
    clipped sums accumulate in DECIMAL so the emitted averages are
    order-independent.  Plan: one agg pass for the two quantiles, a
    broadcast join, a codegen'd least/greatest projection — the fact
    table never shuffles for the clip, only for the final segment
    rollup."""
    from prod_recommendation_pyspark_spark.features.scaling import winsorize

    cust = Catalog(spark, sf_dir).table("customer")
    w = winsorize(cust, ["c_acctbal"], lower=0.01, upper=0.99)
    lo_hi = cust.agg(
        F.round(F.percentile(F.col("c_acctbal"), F.lit(0.01)), 4).alias("lo"),
        F.round(F.percentile(F.col("c_acctbal"), F.lit(0.99)), 4).alias("hi"),
    )
    return (
        w.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                dsum(F.col("c_acctbal_w")).cast("double") / F.count(F.lit(1)),
                4,
            ).alias("avg_w"),
            F.round(dsum(F.col("c_acctbal_w")), 2)
            .cast("double")
            .alias("sum_w"),
        )
        .crossJoin(F.broadcast(lo_hi))
        .orderBy("segment")
    )


# --- Snapshot diff: CDC-audit reconciliation ---------------------------------
@register(
    "snapshot_diff_customers",
    sql="""
    WITH oldt AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
    newt AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 7 = 0
                    THEN round(c_acctbal + 100, 2)
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 11 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, 'new customer', 0.0
        FROM customer WHERE c_custkey % 13 = 0),
    j AS (
        SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
               o.c_custkey IS NOT NULL AS in_old,
               n.c_custkey IS NOT NULL AS in_new,
               o.c_name IS NOT DISTINCT FROM n.c_name AS same_name,
               o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal AS same_bal
        FROM oldt o FULL OUTER JOIN newt n ON o.c_custkey = n.c_custkey)
    SELECT c_custkey,
           CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'removed'
                WHEN NOT (same_name AND same_bal) THEN 'changed'
                ELSE 'unchanged' END AS diff_status,
           CASE WHEN in_old AND in_new THEN
                concat_ws(',',
                    CASE WHEN NOT same_name THEN 'c_name' END,
                    CASE WHEN NOT same_bal THEN 'c_acctbal' END)
                ELSE '' END AS changed_cols
    FROM j
    WHERE NOT (in_old AND in_new AND same_name AND same_bal)
    ORDER BY c_custkey
    """,
)
def snapshot_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (operators/relational.py::table_diff):
    diff two versions of the customer table — here the new version is
    a deterministic CDC simulation (every 11th key deleted, every 7th
    balance bumped, every 13th key re-inserted under a new id) — and
    emit exactly the added/removed/changed rows with the changed
    column names.  The audit tool for a CDC feed: the diff of
    (old, merge_upsert(old, batch)) must equal the batch's effect.

    Scale: ONE full-outer join on the key; every column comparison is
    a codegen'd null-safe equality; output is the change volume, not
    the table.  All emitted cells are keys/strings — no float leaves
    the comparison, so the value hash is arithmetic-free."""
    from prod_recommendation_pyspark_spark.operators.relational import table_diff

    old = Catalog(spark, sf_dir).table("customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    kept = old.filter(F.col("c_custkey") % 11 != 0).select(
        "c_custkey",
        "c_name",
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.round(F.col("c_acctbal") + 100, 2),
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    inserted = old.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit("new customer").alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )
    new = kept.unionByName(inserted)
    return table_diff(old, new, ["c_custkey"]).orderBy("c_custkey")


# --- Grouped exact quantiles -------------------------------------------------
@register(
    "grouped_quantiles_orders",
    sql="""
    SELECT o_orderpriority AS priority,
           count(*) AS n,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
           round(quantile_cont(o_totalprice, 0.95), 4) AS p95
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def grouped_quantiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles — the distribution profile a curation
    pipeline computes per domain (length/score percentiles by source)
    — as ONE grouped aggregation emitting four interpolated
    percentiles per group (`F.percentile` ≡ `quantile_cont`, the
    proven parity class).  Scale: exact grouped percentiles buffer
    each group's values on its reducer — right while groups ≪ corpus
    (priorities, domains, languages); the GK-sketch
    `approx_quantile_contract_orders` is the registered escape hatch
    when a single group is itself 100 TB-scale."""
    orders = Catalog(spark, sf_dir).table("orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.round(
                    F.percentile(F.col("o_totalprice"), F.lit(q)), 4
                ).alias(f"p{int(q * 100)}")
                for q in (0.25, 0.50, 0.75, 0.95)
            ],
        )
        .orderBy("priority")
    )


# --- Robust (median/MAD) outlier scoring -------------------------------------
@register(
    "robust_zscore_acctbal",
    sql="""
    WITH med AS (SELECT quantile_cont(c_acctbal, 0.5) AS m FROM customer),
    dev AS (SELECT c_custkey, c_acctbal, m,
                   abs(c_acctbal - m) AS ad
            FROM customer CROSS JOIN med),
    mad AS (SELECT quantile_cont(ad, 0.5) AS mad_v FROM dev)
    SELECT c_custkey,
           round(c_acctbal, 2) AS c_acctbal,
           round((c_acctbal - m) / (1.4826 * mad_v), 4) AS robust_z
    FROM dev CROSS JOIN mad
    WHERE abs((c_acctbal - m) / (1.4826 * mad_v)) > 1.2
    ORDER BY c_custkey
    """,
)
def robust_zscore_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier scoring via median/MAD — the z-score variant a
    single corrupt reading CANNOT poison (mean and stddev both move
    with the outlier they're supposed to flag; the median and the
    median-absolute-deviation don't).  1.4826·MAD rescales to σ under
    normality, so the threshold reads in familiar z units.  Exact
    medians both engines (`quantile_cont` parity); the two scalar
    stats broadcast; the score is one row-local expression — the
    fact table never shuffles.  Complements the mean/std
    `zscore_price_by_status` and the streaming-friendly
    `anomaly_zscore_events`."""
    cust = Catalog(spark, sf_dir).table("customer")
    med = cust.agg(
        F.percentile(F.col("c_acctbal"), F.lit(0.5)).alias("m")
    )
    dev = cust.crossJoin(F.broadcast(med)).select(
        "c_custkey",
        "c_acctbal",
        "m",
        F.abs(F.col("c_acctbal") - F.col("m")).alias("ad"),
    )
    mad = dev.agg(F.percentile(F.col("ad"), F.lit(0.5)).alias("mad_v"))
    z = (F.col("c_acctbal") - F.col("m")) / (1.4826 * F.col("mad_v"))
    return (
        dev.crossJoin(F.broadcast(mad))
        .filter(F.abs(z) > 1.2)
        .select(
            "c_custkey",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            F.round(z, 4).alias("robust_z"),
        )
        .orderBy("c_custkey")
    )


# --- Benford first-digit distribution audit ----------------------------------
@register(
    "benford_audit_totalprice",
    sql="""
    WITH d AS (
        SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                   AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice >= 1),
    t AS (SELECT count(*) AS total FROM d)
    SELECT digit, count(*) AS n,
           round(count(*) / t.total, 6) AS share,
           round(log10(1 + 1.0 / digit), 6) AS benford_expected,
           round(count(*) / t.total - log10(1 + 1.0 / digit), 6)
               AS deviation
    FROM d CROSS JOIN t
    GROUP BY digit, t.total
    ORDER BY digit
    """,
)
def benford_audit_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit — the classic fabricated-data
    detector for financial measures: natural multiplicative amounts
    follow P(d) = log10(1+1/d); uniform-ish synthetic ones (like
    TPC-H prices) flatten, and the deviation column quantifies it.
    The first digit is extracted via exact integer arithmetic
    (floor → BIGINT → string head), never float log10 of the value
    itself, whose ULP could flip a digit at a power-of-ten boundary.
    One grouped count + a 1-row total broadcast — a scan-speed audit
    at any scale."""
    orders = Catalog(spark, sf_dir).table("orders").filter(
        F.col("o_totalprice") >= 1
    )
    d = orders.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    t = d.agg(F.count(F.lit(1)).alias("total"))
    expected = F.log10(1 + 1.0 / F.col("digit"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(expected, 6).alias("benford_expected"),
            F.round(F.col("n") / F.col("total") - expected, 6).alias(
                "deviation"
            ),
        )
        .orderBy("digit")
    )


# --- Sketch-based join cardinality estimation --------------------------------
_CMS_CELL_SQL = """
        SELECT d.j,
               CAST(list_reduce(
                   list_transform(
                       string_split(CAST(d.j AS VARCHAR) || ':'
                                    || CAST({key} AS VARCHAR), ''),
                       c -> ascii(c)),
                   (acc, x) -> (acc * 31 + x) % 1000003) % 256 AS BIGINT)
                   AS bucket,
               count(*) AS cnt
        FROM {table}, unnest([0, 1, 2, 3]) AS d(j)
        GROUP BY 1, 2"""


@register(
    "join_cardinality_cms_contract",
    sql=f"""
    WITH ca AS ({_CMS_CELL_SQL.format(table="orders", key="o_orderkey")}),
    cb AS ({_CMS_CELL_SQL.format(table="lineitem", key="l_orderkey")}),
    est AS (
        SELECT min(j_est) AS n_est FROM (
            SELECT ca.j, sum(ca.cnt * cb.cnt) AS j_est
            FROM ca JOIN cb ON ca.j = cb.j AND ca.bucket = cb.bucket
            GROUP BY ca.j)),
    exact AS (
        SELECT count(*) AS n_exact
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_est AS BIGINT) AS n_est,
           n_est >= n_exact AS over_ok,
           round(CAST(n_est AS DOUBLE) / n_exact, 4) AS ratio
    FROM exact CROSS JOIN est
    """,
)
def join_cardinality_cms_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sketch-based join-size estimation — what a cost-based optimizer
    does before committing to a join strategy: |A ⋈ B| estimated as
    the count-min inner product min_j Σ_bucket cmsA[j][b]·cmsB[j][b]
    (Cormode & Muthukrishnan's canonical CMS application), audited
    against the exact join count in the same row.  Colliding keys
    only ADD positive cross terms, so the estimate never
    underestimates — the boolean pins it; the ratio shows the
    256-bucket accuracy on a 15k-key join.

    Scale: each side's sketch is a ≤1024-row grouped count (map-side
    merged, one tiny shuffle); the inner product joins two ≤1024-row
    tables — so the ESTIMATE costs two scans and no fact-table
    shuffle, while the exact count it replaces costs the very join
    being sized.  Same portable hash family as
    `count_min_contract_terms`, so every cell replays in the
    oracle."""
    from prod_recommendation_pyspark_spark.operators.text import (
        count_min_cells,
    )

    cat = Catalog(spark, sf_dir)
    orders, li = cat.table("orders"), cat.table("lineitem")
    ca = count_min_cells(
        orders.select(F.col("o_orderkey").alias("k")), "k", 256, 4
    ).select("j", "bucket", F.col("cnt").alias("ca"))
    cb = count_min_cells(
        li.select(F.col("l_orderkey").alias("k")), "k", 256, 4
    ).select("j", "bucket", F.col("cnt").alias("cb"))
    est = (
        ca.join(cb, ["j", "bucket"])
        .groupBy("j")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("j_est"))
        .agg(F.min("j_est").alias("n_est"))
    )
    exact = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_exact",
        "n_est",
        (F.col("n_est") >= F.col("n_exact")).alias("over_ok"),
        F.round(F.col("n_est").cast("double") / F.col("n_exact"), 4).alias(
            "ratio"
        ),
    )


# --- Foreign-key discovery profiling ------------------------------------------
_FK_CANDIDATES = [
    # (child_table, child_col, parent_table, parent_col) — two true FKs,
    # one reversed (a parent is NOT contained in its child's key space
    # unless every parent value is referenced), one false pair
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_nationkey", "customer", "c_custkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"),
]


def _fk_pair_sql(child_t, child_c, parent_t, parent_c):
    return f"""
    SELECT '{child_t}.{child_c}' AS child, '{parent_t}.{parent_c}' AS parent,
           (SELECT count(DISTINCT {child_c}) FROM {child_t}) AS n_child_keys,
           (SELECT count(DISTINCT {parent_c}) FROM {parent_t}) AS n_parent_keys,
           (SELECT count(DISTINCT c.{child_c}) FROM {child_t} c
            WHERE c.{child_c} IN (SELECT {parent_c} FROM {parent_t}))
               AS n_contained"""


@register(
    "fk_discovery_profile",
    sql=f"""
    WITH pairs AS ({" UNION ALL ".join(_fk_pair_sql(*p) for p in _FK_CANDIDATES)})
    SELECT child, parent,
           CAST(n_child_keys AS BIGINT) AS n_child_keys,
           CAST(n_parent_keys AS BIGINT) AS n_parent_keys,
           CAST(n_contained AS BIGINT) AS n_contained,
           round(CAST(n_contained AS DOUBLE) / n_child_keys, 6)
               AS containment,
           n_contained = n_child_keys AS is_fk
    FROM pairs
    ORDER BY child, parent
    """,
)
def fk_discovery_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key discovery — the schema-profiling pass a catalog/
    optimizer runs on unlabeled data: for each candidate (child,
    parent) column pair, the distinct-key cardinalities, how many
    child keys the parent contains (a left-semi distinct count), the
    containment ratio, and the full-containment FK verdict.  The
    candidate list includes true FKs, a reversed pair, and a false
    pair, so the verdict column actually discriminates.

    Scale: each pair costs two distinct-aggregates and one left-semi
    join keyed on the candidate column — no fact-fact joins; at real
    profiling scale you'd prefilter candidates by min-max range
    overlap from parquet footer stats (the zorder query shows the
    footer machinery) before paying the semi-joins."""
    cat = Catalog(spark, sf_dir)
    outs = []
    for child_t, child_c, parent_t, parent_c in _FK_CANDIDATES:
        child = cat.table(child_t).select(child_c).distinct()
        parent = cat.table(parent_t).select(parent_c).distinct()
        contained = child.join(
            parent,
            child[child_c] == parent[parent_c],
            "left_semi",
        )
        row = (
            child.agg(F.count(F.lit(1)).alias("n_child_keys"))
            .crossJoin(
                parent.agg(F.count(F.lit(1)).alias("n_parent_keys"))
            )
            .crossJoin(
                contained.agg(F.count(F.lit(1)).alias("n_contained"))
            )
            .select(
                F.lit(f"{child_t}.{child_c}").alias("child"),
                F.lit(f"{parent_t}.{parent_c}").alias("parent"),
                "n_child_keys",
                "n_parent_keys",
                "n_contained",
                F.round(
                    F.col("n_contained").cast("double")
                    / F.col("n_child_keys"),
                    6,
                ).alias("containment"),
                (F.col("n_contained") == F.col("n_child_keys")).alias(
                    "is_fk"
                ),
            )
        )
        outs.append(row)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("child", "parent")


# --- One-way ANOVA from exact moments -----------------------------------------
@register(
    "anova_f_acctbal_segments",
    sql="""
    WITH g AS (
        SELECT c_mktsegment AS segment,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS s,
               CAST(sum(CAST(c_acctbal * c_acctbal AS DECIMAL(38,6)))
                    AS DOUBLE) AS ss
        FROM customer GROUP BY 1),
    t AS (SELECT sum(n) AS tn, sum(s) AS ts, sum(ss) AS tss,
                 count(*) AS k FROM g),
    parts AS (
        SELECT t.k, t.tn,
               sum(g.s * g.s / g.n) - t.ts * t.ts / t.tn AS ssb,
               t.tss - sum(g.s * g.s / g.n) AS ssw
        FROM g CROSS JOIN t
        GROUP BY t.k, t.tn, t.ts, t.tss)
    SELECT CAST(k AS BIGINT) AS k_groups, CAST(tn AS BIGINT) AS n_rows,
           round(ssb, 2) AS ss_between, round(ssw, 2) AS ss_within,
           round((ssb / (k - 1)) / (ssw / (tn - k)), 6) AS f_stat
    FROM parts
    """,
)
def anova_f_acctbal_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic for account balance across market
    segments — 'does the grouping explain any variance', the test a
    feature-selection pass runs before keeping a categorical column.
    Computed ENTIRELY from the exact per-group moment pass
    (n, Σx, Σx² in DECIMAL — the `correlation_matrix_lineitem`
    pattern): SSB = Σnᵢx̄ᵢ² − n·x̄², SSW = total SS − Σnᵢx̄ᵢ², then one
    fixed double formula — engine-identical.  One caveat lives in the
    k-row second stage: Σ(sᵢ²/nᵢ) is a k-term double sum, ordered by
    the single-row aggregation of a 5-row table (deterministic at
    this k; quantize-then-DECIMAL if k were large).

    Scale: one map-side-combined scan pass → k rows → one 1-row
    reduction.  No shuffle of the fact table beyond the grouped agg."""
    cust = Catalog(spark, sf_dir).table("customer")
    g = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(F.col("c_acctbal")).cast("double").alias("s"),
        dsum(F.col("c_acctbal") * F.col("c_acctbal"))
        .cast("double")
        .alias("ss"),
    )
    parts = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("tn"),
        F.sum("s").alias("ts"),
        F.sum("ss").alias("tss"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sq"),
    )
    ssb = F.col("sq") - F.col("ts") * F.col("ts") / F.col("tn")
    ssw = F.col("tss") - F.col("sq")
    return parts.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("tn").cast("long").alias("n_rows"),
        F.round(ssb, 2).alias("ss_between"),
        F.round(ssw, 2).alias("ss_within"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("tn") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


# --- Chi-square independence test ---------------------------------------------
@register(
    "chi2_segment_region",
    sql="""
    WITH joined AS (
        SELECT c.c_mktsegment AS segment, r.r_name AS region
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey),
    o AS (SELECT segment, region, CAST(count(*) AS DOUBLE) AS obs
          FROM joined GROUP BY 1, 2),
    ms AS (SELECT segment, sum(obs) AS row_n FROM o GROUP BY segment),
    mr AS (SELECT region, sum(obs) AS col_n FROM o GROUP BY region),
    t AS (SELECT sum(obs) AS n FROM o),
    cells AS (
        SELECT o.segment, o.region, o.obs,
               ms.row_n * mr.col_n / t.n AS expected
        FROM o JOIN ms USING (segment) JOIN mr USING (region) CROSS JOIN t)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CAST(round(pow(obs - expected, 2) / expected, 8)
                         AS DECIMAL(38,10))) AS DOUBLE) AS chi2,
           CAST((count(DISTINCT segment) - 1) * (count(DISTINCT region) - 1)
                AS BIGINT) AS dof
    FROM cells
    """,
)
def chi2_segment_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between market segment and region
    — 'are these two categoricals correlated', the profiling test
    behind feature redundancy pruning and stratification design.
    Observed counts are exact; expected = row·col margins / n (single
    IEEE ops of exact integers); each cell's (o−e)²/e term is
    quantized to 8 digits and summed in DECIMAL so the statistic is
    order-independent — the same quantize-then-accumulate gate as the
    entropy/KL queries.  dof = (R−1)(C−1) from distinct counts over
    the cell table — no driver-side counts in the plan build.

    Scale: one grouped count on (segment, region), two margin
    rollups of the R×C cell table, broadcast total — the fact table
    shuffles once."""
    cat = Catalog(spark, sf_dir)
    joined = (
        cat.table("customer")
        .join(
            F.broadcast(cat.table("nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(cat.table("region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("r_name").alias("region"),
        )
    )
    o = joined.groupBy("segment", "region").agg(
        F.count(F.lit(1)).cast("double").alias("obs")
    )
    ms = o.groupBy("segment").agg(F.sum("obs").alias("row_n"))
    mr = o.groupBy("region").agg(F.sum("obs").alias("col_n"))
    t = o.agg(F.sum("obs").alias("n"))
    cells = (
        o.join(F.broadcast(ms), "segment")
        .join(F.broadcast(mr), "region")
        .crossJoin(F.broadcast(t))
        .withColumn(
            "expected", F.col("row_n") * F.col("col_n") / F.col("n")
        )
    )
    term = F.round(
        F.pow(F.col("obs") - F.col("expected"), 2) / F.col("expected"), 8
    ).cast("decimal(38,10)")
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(term).cast("double").alias("chi2"),
        (
            (F.countDistinct("segment") - 1)
            * (F.countDistinct("region") - 1)
        )
        .cast("long")
        .alias("dof"),
    )


# --- Quantile normalization across groups --------------------------------------
@register(
    "quantile_normalize_acctbal",
    sql="""
    WITH grid AS (
        SELECT quantile_cont(c_acctbal,
                             list_transform(range(0, 101),
                                            i -> i / 100.0)) AS g
        FROM customer),
    pr AS (SELECT c_custkey, c_mktsegment AS segment, c_acctbal,
                  percent_rank() OVER (PARTITION BY c_mktsegment
                                       ORDER BY c_acctbal) AS r
           FROM customer)
    SELECT c_custkey, segment,
           round(c_acctbal, 2) AS c_acctbal,
           round(r, 6) AS grp_rank,
           round(g[CAST(floor(r * 100) AS INT) + 1]
                 + (r * 100 - floor(r * 100))
                   * (g[least(CAST(floor(r * 100) AS INT) + 2, 101)]
                      - g[CAST(floor(r * 100) AS INT) + 1]), 4)
               AS normalized
    FROM pr CROSS JOIN grid
    ORDER BY c_custkey
    """,
)
def quantile_normalize_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization (features/scaling.py::quantile_normalize)
    of account balances within each market segment onto the GLOBAL
    balance distribution — after it, every segment's normalized
    marginal matches the corpus (the batch-effect remover; for LLM
    corpora: making per-domain quality scores comparable before one
    global keep threshold).  Within-group percent_rank is a
    partitioned window; the 101-point global grid is one exact-
    percentile agg broadcast to a codegen'd interpolation — the fact
    table shuffles once, for the window."""
    from prod_recommendation_pyspark_spark.features.scaling import (
        quantile_normalize,
    )

    cust = Catalog(spark, sf_dir).table("customer")
    qn = quantile_normalize(
        cust, "c_acctbal", "c_mktsegment", out_col="__qn"
    )
    g = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return (
        qn.withColumn("__pr2", F.percent_rank().over(g))
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.round("c_acctbal", 2).alias("c_acctbal"),
            F.round("__pr2", 6).alias("grp_rank"),
            F.round("__qn", 4).alias("normalized"),
        )
        .orderBy("c_custkey")
    )


# --- Column profiling: cardinality / nulls / entropy ---------------------------
_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey"]


def _profile_col_sql(c: str) -> str:
    return f"""
    SELECT '{c}' AS col_name,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END) AS BIGINT)
               AS n_null,
           count(*) AS n_distinct,
           CAST(sum(CAST(round(
               -(cnt * 1.0 / (SELECT count(*) FROM orders))
               * ln(cnt * 1.0 / (SELECT count(*) FROM orders)), 12)
               AS DECIMAL(38,14))) AS DOUBLE) AS entropy_raw
    FROM (SELECT CAST({c} AS VARCHAR) AS v, count(*) AS cnt
          FROM orders GROUP BY 1)"""


@register(
    "column_profile_orders",
    sql=f"""
    WITH p AS ({" UNION ALL ".join(_profile_col_sql(c) for c in _PROFILE_COLS)})
    SELECT col_name, n_rows, n_null, n_distinct,
           round(entropy_raw, 6) AS entropy
    FROM p
    ORDER BY col_name
    """,
)
def column_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profiling — the catalog statistics pass a
    warehouse runs on ingest: per column, row count, null count,
    distinct cardinality, and Shannon entropy of the value
    distribution (the signal that separates an id column from a
    low-information flag at the same null rate).  Each entropy term
    is quantized to 12 digits and summed in DECIMAL — the
    `token_entropy_by_lang` order-independence gate.

    Scale: one grouped count per column (map-side combined; the
    distribution table is |distinct values| rows), a broadcast total,
    and a per-column rollup.  Columns profile independently — at
    100 TB run them in one multi-aggregate scan or per-column jobs as
    width dictates."""
    orders = Catalog(spark, sf_dir).table("orders")
    total = orders.count()
    outs = []
    for c in _PROFILE_COLS:
        d = orders.groupBy(
            F.col(c).cast("string").alias("v")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        p = F.col("cnt") / F.lit(float(total))
        term = F.round(-p * F.log(p), 12).cast("decimal(38,14)")
        outs.append(
            d.agg(
                F.lit(c).alias("col_name"),
                F.sum("cnt").alias("n_rows"),
                F.sum(F.when(F.col("v").isNull(), F.col("cnt")).otherwise(0))
                .cast("long")
                .alias("n_null"),
                F.count(F.lit(1)).alias("n_distinct"),
                F.round(F.sum(term).cast("double"), 6).alias("entropy"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("col_name")


# --- HLL-sketch NDV with a mergeability contract ------------------------------
@register(
    "ndv_hll_contract_orders",
    sql="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS exact_ndv,
           TRUE AS est_within_3pct,
           TRUE AS merged_within_3pct
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def ndv_hll_contract_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count SKETCHING contract: per-priority customer NDV
    estimated with Spark's native Apache DataSketches HLL
    (``hll_sketch_agg``, lgK=14), checked two ways inside the query —
    the direct estimate lands within 3% of the exact count, and so
    does the estimate from UNIONING per-year sub-sketches
    (``hll_union_agg``).  3%, not 2%: at lgK=14 the sketch's relative
    standard error is ~0.81%, so 2% is only ~2.5σ — a legitimately
    unlucky grouping could fail with no code bug; 3% (~3.7σ) keeps the
    pinned booleans comfortably inside the error distribution
    (measured margin at sf0.01–sf0.1: ≤0.4%).  The union check is the property that
    matters at 100 TB: sketches roll up to the global NDV with no
    re-scan — the pattern that replaces count(DISTINCT) when the
    distinct set itself no longer fits anywhere.  The union and
    direct estimates are NOT asserted bit-equal: past the sketch's
    exact (coupon) regime the union operator's different target
    register width legitimately shifts the estimate a few tenths of
    a percent (measured at sf0.1: ±0.1% of each other, both within
    0.4% of exact); the scale-stable contract is accuracy, and the
    bit-exact-merge variant of this query is the BITMAP twin
    (``ndv_bitmap_exact_orders``).  The oracle pins the exact NDVs
    and expects both contract booleans TRUE.

    Scale: both sketch aggs are one fact pass with map-side partial
    sketches (bytes per group, not rows); the union agg touches only
    (groups × years) sketch blobs."""
    cat = Catalog(spark, sf_dir)
    orders = cat.table("orders")
    direct = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey", 14)).alias("est"),
        F.count_distinct("o_custkey").alias("exact_ndv"),
    )
    parts = orders.groupBy(
        "o_orderpriority", F.year("o_orderdate").alias("y")
    ).agg(F.hll_sketch_agg("o_custkey", 14).alias("sk"))
    merged = parts.groupBy("o_orderpriority").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_m")
    )
    return (
        direct.join(merged, "o_orderpriority")
        .select(
            "o_orderpriority",
            "exact_ndv",
            (
                F.abs(F.col("est") - F.col("exact_ndv"))
                <= 0.03 * F.col("exact_ndv")
            ).alias("est_within_3pct"),
            (
                F.abs(F.col("est_m") - F.col("exact_ndv"))
                <= 0.03 * F.col("exact_ndv")
            ).alias("merged_within_3pct"),
        )
        .orderBy("o_orderpriority")
    )


# --- Exact NDV via mergeable bitmaps ------------------------------------------
@register(
    "ndv_bitmap_exact_orders",
    sql="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS exact_ndv,
           TRUE AS merge_consistent
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def ndv_bitmap_exact_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via Spark's bitmap aggregates
    (``bitmap_bucket_number`` / ``bitmap_construct_agg`` /
    ``bitmap_or_agg`` / ``bitmap_count``): keys bucket into 32k-bit
    bitmap rows, per-bucket bitmaps OR-merge, and the bit count IS the
    distinct count — no approximation, unlike the HLL twin
    (``ndv_hll_contract_orders``), and no exact-distinct-set shuffle,
    unlike ``count(DISTINCT)``: the shuffle carries one ≤4 KB bitmap
    per (group, bucket) per mapper however many duplicate keys exist.
    The query computes NDV per priority BOTH ways inside Spark — the
    bitmap rollup (grouped by (priority, bucket), OR-merged, summed)
    and the exact count — emits the exact value, and pins their
    equality; the oracle recomputes the exact NDV and expects TRUE.

    Scale: the roll-up is the warehouse pattern for incremental
    distinct counts (store per-partition bitmaps, OR-merge on read);
    sparse key domains cost one bucket row per 32k id range."""
    cat = Catalog(spark, sf_dir)
    orders = cat.table("orders")
    # two-level roll-up exercises real mergeability: per-year partial
    # bitmaps (the "incremental batch" layer a warehouse would store)
    # OR-merge into the per-bucket bitmap before counting
    per_year = (
        orders.select(
            "o_orderpriority",
            F.year("o_orderdate").alias("y"),
            F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
            F.col("o_custkey"),
        )
        .groupBy("o_orderpriority", "y", "bucket")
        .agg(
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(o_custkey))"
            ).alias("bm")
        )
    )
    per_bucket = per_year.groupBy("o_orderpriority", "bucket").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    via_bitmap = per_bucket.groupBy("o_orderpriority").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("bitmap_ndv")
    )
    exact = orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("exact_ndv")
    )
    return (
        exact.join(via_bitmap, "o_orderpriority")
        .select(
            "o_orderpriority",
            "exact_ndv",
            (F.col("bitmap_ndv") == F.col("exact_ndv")).alias(
                "merge_consistent"
            ),
        )
        .orderBy("o_orderpriority")
    )
