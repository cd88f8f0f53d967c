"""Deep analytic query surface — TPC-H-class shapes beyond the
reference's own pipeline (SURVEY.md §2.3-2.8 extensions).

The reference exercises only single-hop equi-joins and flat groupBy
aggregates; a complete engine must also cover multi-hop join chains,
semi-join subqueries, correlated scalar subqueries, outer-join
distributions, disjunctive join predicates, and the regex/date/array
scalar surfaces.  Every query here is value-oracled against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.functions.exact import davg, dsum
from prod_recommendation_pyspark_spark.queries.registry import register
from prod_recommendation_pyspark_spark.sources.catalog import Catalog


# --- TPC-H Q5 shape: 6-way join chain with region filter --------------------
@register(
    "q5_regional_supplier_revenue",
    sql="""
    SELECT n.n_name AS nation,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o    ON c.c_custkey = o.o_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n    ON s.s_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def q5_regional_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop join-chain completeness (the reference never chains
    more than two joins — SURVEY §2.3).  Six tables, one local-supplier
    equality (c_nationkey = s_nationkey) on top of the key chain.

    Scale: nation/region broadcast; the orders date filter pushes into
    the parquet scan so the fact-side shuffle carries one year, not
    seven; AQE reorders the customer/supplier joins by runtime size."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.table("customer")
        .join(
            cat.table("orders").filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(cat.table("lineitem"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            cat.table("supplier"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(cat.table("nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(cat.table("region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "nation")
    )


# --- TPC-H Q4 shape: EXISTS subquery → left-semi join -----------------------
@register(
    "q4_exists_order_priority",
    sql="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_exists_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-subquery shape planned as a left-semi join: the probe side
    never materializes lineitem payload columns, and the lineitem filter
    (l_quantity >= 45) is pushed below the join so the semi-join build
    input is ~12% of the table."""
    cat = Catalog(spark, sf_dir)
    orders = cat.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    big_lines = cat.table("lineitem").filter(F.col("l_quantity") >= 45)
    return (
        orders.join(big_lines, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# --- TPC-H Q13 shape: outer join with non-key predicate → distribution ------
@register(
    "q13_order_count_distribution",
    sql="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join with an extra NON-KEY join predicate (the filter
    must ride the join condition, not a WHERE — a WHERE would turn the
    outer join inner) + two-level aggregation producing a histogram.
    count(o_orderkey) counts non-null matches only, so no-order
    customers land in the c_count=0 bucket — null-semantics parity with
    the oracle is the point of the test."""
    cat = Catalog(spark, sf_dir)
    cust, orders = cat.table("customer"), cat.table("orders")
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --- TPC-H Q17 shape: correlated scalar subquery → agg-join decorrelation ---
@register(
    "q17_below_avg_quantity_revenue",
    sql="""
    SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
                 / 7.0, 2) AS avg_weekly_revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_below_avg_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, hand-decorrelated the way Catalyst
    would: the per-part avg is a separate aggregate joined back on the
    correlation key.  At scale this is one extra shuffle over a
    pre-aggregated (partkey, avg) table instead of a per-row subquery;
    the brand filter prunes the probe side before the join."""
    cat = Catalog(spark, sf_dir)
    li = cat.table("lineitem")
    # the row gate compares against this avg UNROUNDED, but l_quantity
    # is integral: the double sum of <=2^53 worth of integers is exact,
    # so avg (one division) is deterministic across engines — no ULP
    # exposure, unlike float-valued sums (see functions/exact.py)
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        li.join(
            F.broadcast(cat.table("part").filter(F.col("p_brand") == "Brand#1")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(part_avg, F.col("l_partkey") == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(dsum(F.col("l_extendedprice")) / 7.0, 2).alias(
                "avg_weekly_revenue"
            )
        )
    )


# --- TPC-H Q19 shape: disjunctive join predicate ----------------------------
@register(
    "q19_disjunctive_predicate_revenue",
    sql="""
    SELECT CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_type = 'SMALL'  AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_type = 'MEDIUM' AND p.p_size BETWEEN 11 AND 25
           AND l.l_quantity BETWEEN 10 AND 25)
       OR (p.p_type = 'LARGE'  AND p.p_size BETWEEN 26 AND 50
           AND l.l_quantity BETWEEN 20 AND 35)
    """,
)
def q19_disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-conjuncts join predicate (TPC-H Q19's shape).  Catalyst
    extracts the common p_partkey equi-condition so this still plans as
    a hash join (not a nested-loop), with the disjunction applied as a
    post-join filter; the per-side implied predicates are pushed to the
    scans."""
    cat = Catalog(spark, sf_dir)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_type") == "SMALL") & F.col("p_size").between(1, 10) & q.between(1, 15))
        | ((F.col("p_type") == "MEDIUM") & F.col("p_size").between(11, 25) & q.between(10, 25))
        | ((F.col("p_type") == "LARGE") & F.col("p_size").between(26, 50) & q.between(20, 35))
    )
    return (
        cat.table("lineitem")
        .join(F.broadcast(cat.table("part")), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- HAVING (post-aggregation filter) ---------------------------------------
@register(
    "having_nation_balance_stats",
    sql="""
    SELECT c_nationkey, count(*) AS n_customers,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*), 4) AS avg_bal,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS total_bal
    FROM customer
    GROUP BY c_nationkey
    HAVING CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
               / count(c_acctbal) > 4400
       AND count(*) > 10
    ORDER BY c_nationkey
    """,
)
def having_nation_balance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation HAVING filter referencing two different
    aggregates — planned as Filter over HashAggregate (no second
    shuffle); scale-free thresholds so the query is meaningful at any
    sf."""
    cust = Catalog(spark, sf_dir).table("customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(dsum(F.col("c_acctbal")) / F.count(F.lit(1)), 4).alias(
                "avg_bal"
            ),
            dsum(F.col("c_acctbal"), 2).alias("total_bal"),
            davg(F.col("c_acctbal")).alias("_raw_avg"),
        )
        .filter((F.col("_raw_avg") > 4400) & (F.col("n_customers") > 10))
        .drop("_raw_avg")
        .orderBy("c_nationkey")
    )


# --- Regex / extended string surface ----------------------------------------
@register(
    "regex_string_surface_part",
    sql="""
    SELECT p_partkey,
           regexp_extract(p_name, '^(\\w+)', 1)            AS first_word,
           regexp_replace(p_name, ' ', '_', 'g')           AS name_snake,
           len(string_split(p_name, ' '))                  AS n_words,
           (p_type LIKE '%ALL%')                           AS like_all,
           starts_with(p_brand, 'Brand#1')                 AS brand1x,
           strpos(p_name, 'e')                             AS first_e,
           left(p_name, 4)                                 AS name_left4,
           right(p_name, 3)                                AS name_right3,
           repeat(p_brand, 2)                              AS brand_twice,
           replace(p_type, 'SMALL', 'S')                   AS type_abbrev,
           lpad(CAST(p_size AS VARCHAR), 4, '0')           AS size_padded
    FROM part
    ORDER BY p_partkey
    """,
)
def regex_string_surface_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex + extended string surface (the reference uses no regex at
    all — SURVEY §2.8).  All native Catalyst expressions in one
    codegen'd projection; the same semantics expressed in DuckDB's
    dialect (regexp_replace needs the explicit 'g' flag there, split →
    string_split, instr → strpos) keep the oracle honest about corner
    semantics like 1-based strpos and LIKE escaping."""
    part = Catalog(spark, sf_dir).table("part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.col("p_type").like("%ALL%").alias("like_all"),
        F.startswith(F.col("p_brand"), F.lit("Brand#1")).alias("brand1x"),
        F.instr("p_name", "e").alias("first_e"),
        F.substring("p_name", 1, 4).alias("name_left4"),
        F.substring("p_name", -3, 3).alias("name_right3"),
        F.repeat("p_brand", 2).alias("brand_twice"),
        F.replace(F.col("p_type"), F.lit("SMALL"), F.lit("S")).alias("type_abbrev"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    ).orderBy("p_partkey")


# --- Date / timestamp function surface --------------------------------------
@register(
    "date_functions_orders",
    sql="""
    SELECT o_orderkey,
           year(o_orderdate)                                   AS order_year,
           month(o_orderdate)                                  AS order_month,
           quarter(o_orderdate)                                AS order_quarter,
           dayofmonth(o_orderdate)                             AS order_day,
           CAST(date_trunc('month', o_orderdate) AS DATE)      AS month_start,
           date_diff('day', DATE '1995-01-01',
                     CAST(o_orderdate AS DATE))                AS days_since_epoch,
           CAST(o_orderdate AS DATE) + 30                      AS plus_30d,
           last_day(CAST(o_orderdate AS DATE))                 AS month_end
    FROM orders
    ORDER BY o_orderkey
    """,
)
def date_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/timestamp scalar surface (the reference does all date math
    driver-side with strptime — SURVEY F7; here it is columnar and
    codegen'd): extraction, truncation, arithmetic, month boundaries."""
    orders = Catalog(spark, sf_dir).table("orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since_epoch"),
        F.date_add(d, 30).alias("plus_30d"),
        F.last_day(d).alias("month_end"),
    ).orderBy("o_orderkey")


# --- Array aggregation + lambda surface -------------------------------------
@register(
    "array_agg_nation_segments",
    sql="""
    SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|')  AS segments,
           len(list_sort(list(DISTINCT c_mktsegment)))                   AS n_segments,
           array_to_string(list_transform(list_sort(list(DISTINCT c_mktsegment)),
                          s -> lower(s)), '|')                           AS segments_lower
    FROM customer
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def array_agg_nation_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation + higher-order lambda surface: collect_set →
    deterministic sort_array, size, and a transform() lambda — the
    building blocks the LLM-pipeline shingle/signature operators are
    made of, oracle-checked here on plain strings (DuckDB list_*
    equivalents).

    The arrays are joined to '|'-delimited strings in the OUTPUT
    projection only (the agg/lambda surface is still exercised on real
    arrays) — the driver's pandas canonicalizer cannot hash list cells."""
    cust = Catalog(spark, sf_dir).table("customer")
    segs = F.sort_array(F.collect_set("c_mktsegment"))
    return (
        cust.groupBy("c_nationkey")
        .agg(segs.alias("segs"))
        .select(
            "c_nationkey",
            F.array_join("segs", "|").alias("segments"),
            F.size("segs").alias("n_segments"),
            F.array_join(
                F.transform("segs", lambda s: F.lower(s)), "|"
            ).alias("segments_lower"),
        )
        .orderBy("c_nationkey")
    )


# --- Approximate aggregates (sketches) with oracle-checked error bounds -----
@register(
    "approx_sketches_orders",
    sql="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey)              AS exact_custs,
           round(median(o_totalprice), 2)         AS exact_p50,
           TRUE                                   AS hll_within_10pct,
           TRUE                                   AS p50_within_5pct
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def approx_sketches_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the only way COUNT(DISTINCT) and percentiles
    scale to 100 TB (exact distinct needs a full shuffle of the key;
    HLL++ and the quantile sketch are single-pass, mergeable, constant
    memory).  The sketches' outputs can't be value-compared to an exact
    oracle, so the query emits the EXACT values (oracled) plus booleans
    asserting the sketch landed within its error bound — HLL++ at
    rsd=0.02 within 10%, approx median within 5% — so the oracle run
    still fails if a sketch degrades."""
    orders = Catalog(spark, sf_dir).table("orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("exact_custs"),
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("exact_p50"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("_hll"),
            F.percentile_approx("o_totalprice", 0.5).alias("_ap50"),
        )
        .select(
            "o_orderstatus",
            "exact_custs",
            "exact_p50",
            (
                F.abs(F.col("_hll") - F.col("exact_custs"))
                <= 0.10 * F.col("exact_custs")
            ).alias("hll_within_10pct"),
            (
                F.abs(F.col("_ap50") - F.col("exact_p50"))
                <= 0.05 * F.col("exact_p50")
            ).alias("p50_within_5pct"),
        )
        .orderBy("o_orderstatus")
    )


# --- Unpivot / melt (wide -> long reshape) ----------------------------------
@register(
    "unpivot_lineitem_measures",
    sql="""
    SELECT l_orderkey, l_linenumber, metric, round(val, 4) AS val
    FROM (UNPIVOT (SELECT l_orderkey, l_linenumber,
                          l_quantity, l_extendedprice, l_discount, l_tax
                   FROM lineitem WHERE l_orderkey % 100 = 0)
          ON l_quantity, l_extendedprice, l_discount, l_tax
          INTO NAME metric VALUE val)
    ORDER BY l_orderkey, l_linenumber, metric
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (unpivot/melt — inverse of the pivot query):
    four measure columns become (metric, val) rows.  Expand is a
    narrow map-side operator — 4× rows, zero shuffle; the ORDER BY is
    only for the deterministic compare."""
    li = Catalog(spark, sf_dir).table("lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    )
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            "metric",
            "val",
        )
        .select(
            "l_orderkey", "l_linenumber", "metric", F.round("val", 4).alias("val")
        )
        .orderBy("l_orderkey", "l_linenumber", "metric")
    )


# --- GROUPING SETS with grouping() indicators --------------------------------
@register(
    "grouping_sets_customer",
    sql="""
    SELECT c_nationkey, c_mktsegment,
           CAST(grouping(c_nationkey) AS INT)  AS g_nation,
           CAST(grouping(c_mktsegment) AS INT) AS g_segment,
           count(*) AS n,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS total_bal
    FROM customer
    GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment), ())
    ORDER BY g_nation, g_segment, c_nationkey, c_mktsegment
    """,
)
def grouping_sets_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (not the rollup/cube lattices — two
    disjoint single-column sets plus the grand total) with grouping()
    null-vs-group disambiguation.  One shuffle; Spark expands the sets
    map-side before the exchange."""
    cust = Catalog(spark, sf_dir).table("customer")
    return (
        cust.groupingSets(
            [["c_nationkey"], ["c_mktsegment"], []],
            "c_nationkey",
            "c_mktsegment",
        )
        .agg(
            F.grouping("c_nationkey").cast("int").alias("g_nation"),
            F.grouping("c_mktsegment").cast("int").alias("g_segment"),
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("g_nation", "g_segment", "c_nationkey", "c_mktsegment")
    )


# --- Time-range window frame (RANGE BETWEEN interval) ------------------------
@register(
    "range_frame_user_activity",
    sql="""
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS sec,
           CAST(round(sum(CAST(value AS DECIMAL(38,6))) OVER w, 4) AS DOUBLE)
               AS trailing_hour_value,
           count(*) OVER w              AS trailing_hour_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def range_frame_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (value-based frame, not row-count): per
    user, the trailing-hour running total — frames differ from ROWS
    wherever events share a timestamp or gap irregularly.  One shuffle
    on user_id; the frame scan is a single ordered pass per
    partition."""
    from pyspark.sql import Window

    ev = Catalog(spark, sf_dir).table("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("sec"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).over(w), 4
            )
            .cast("double")
            .alias("trailing_hour_value"),
            F.count(F.lit(1)).over(w).alias("trailing_hour_events"),
        )
        .orderBy("event_id")
    )


# --- TPC-H Q7 shape: bidirectional nation-pair volume by year ---------------
@register(
    "q7_volume_shipping_nations",
    sql="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(round(sum(CAST(volume AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l.l_shipdate) AS INT) AS l_year,
                 l.l_extendedprice * (1 - l.l_discount) AS volume
          FROM supplier s
          JOIN lineitem l ON s.s_suppkey = l.l_suppkey
          JOIN orders o   ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
          JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l.l_shipdate >= TIMESTAMP '1996-01-01'
            AND l.l_shipdate <  TIMESTAMP '1998-01-01')
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between a nation PAIR in both
    directions, by ship year — the disjunctive two-nation predicate
    over a 6-way join that a naive planner turns into a blowup and
    Catalyst plans as two broadcast nation joins + a residual OR
    filter.

    Scale: both nation joins broadcast; the l_shipdate range pushes
    into the lineitem scan; the OR filter runs before the aggregate
    shuffle, so the shuffle carries ~ (2/25)² of the joined rows."""
    cat = Catalog(spark, sf_dir)
    n1 = cat.table("nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = cat.table("nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    lines = cat.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    return (
        cat.table("supplier")
        .join(lines, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(cat.table("orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cat.table("customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --- TPC-H Q10 shape: returned-item revenue ranking -------------------------
@register(
    "q10_returned_item_revenue",
    sql="""
    SELECT c.c_custkey, c.c_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(38,6))), 2)
                AS DOUBLE) AS revenue,
           round(c.c_acctbal, 2) AS c_acctbal, n.n_name AS nation
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns in one
    quarter.  The global ORDER BY ... LIMIT is planned as TakeOrdered
    (per-partition top-20 then a 20-row merge on the driver — no full
    sort at any scale); ties broken by c_custkey so both engines pick
    the identical 20.  Revenue is rounded IN DECIMAL SPACE
    (``decimal(38,6) → decimal(38,2)`` — exact, HALF_UP in both
    engines) rather than ``round(double, 2)``: a sum landing exactly
    on a .xx5 boundary (observed: 307843.595 at sf0.01) rounds
    differently between Spark's shortest-string HALF_UP and DuckDB's
    binary-value rounding."""
    cat = Catalog(spark, sf_dir)
    orders = cat.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    returned = cat.table("lineitem").filter(F.col("l_returnflag") == "R")
    return (
        cat.table("customer")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(returned, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(cat.table("nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,6)"
                )
            )
            .cast("decimal(38,2)")
            .cast("double")
            .alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "nation",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --- TPC-H Q12 shape (adapted): ship-delay class × priority class -----------
@register(
    "q12_ship_delay_priority",
    sql="""
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) < 0
                THEN 'EARLY'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90
                THEN 'ON_TIME' ELSE 'LATE' END AS delay_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY delay_class
    ORDER BY delay_class
    """,
)
def q12_ship_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted to this schema (no l_shipmode /
    l_commitdate / l_receiptdate — the driver's lineitem carries only
    l_shipdate): lines shipped in 1996 are bucketed by order→ship
    delay (EARLY / ON_TIME ≤ 90 days / LATE) and each bucket counts
    high- vs low-priority lines — Q12's signature conditional
    two-way count preserved intact.

    Scale: one equi-join shuffle (orders is the small side; AQE picks
    broadcast when it fits) and a 3-group aggregate; the l_shipdate
    year pushes into the scan."""
    cat = Catalog(spark, sf_dir)
    lines = cat.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        cat.table("orders")
        .join(lines, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.when(delay < 0, "EARLY")
            .when(delay <= 90, "ON_TIME")
            .otherwise("LATE")
            .alias("delay_class")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("delay_class")
    )


# --- TPC-H Q14 shape: promo revenue share -----------------------------------
@register(
    "q14_promo_revenue_share",
    sql="""
    SELECT round(
               100.0
               * CAST(sum(CAST(CASE WHEN p.p_type = 'PROMO'
                                    THEN l.l_extendedprice * (1 - l.l_discount)
                                    ELSE 0.0 END AS DECIMAL(38,6)))
                      AS DOUBLE)
               / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(38,6))) AS DOUBLE),
               4) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: the PROMO share of one month's discounted revenue —
    a global conditional-aggregate ratio.  Both sums accumulate in
    DECIMAL(38,6) so the single division (and the 4-digit round) is
    engine-identical; the part join broadcasts (part ≪ lineitem) and
    the month filter pushes into the scan."""
    cat = Catalog(spark, sf_dir)
    lines = cat.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_vol = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
    return (
        lines.join(
            F.broadcast(cat.table("part")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            F.round(
                F.lit(100.0) * dsum(promo_vol) / dsum(vol), 4
            ).alias("promo_revenue_pct")
        )
    )


# --- TPC-H Q18 shape: large-volume-order customers --------------------------
@register(
    "q18_large_volume_customers",
    sql="""
    WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 300)
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 2) AS o_totalprice, big.sum_qty
    FROM big
    JOIN orders o   ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 300 (top ~0.5%
    of orders at every SF of this data), with their customers, ranked
    by order value.  The HAVING pre-aggregate shrinks the fact side
    BEFORE any join — at 100 TB the big-order key set is small enough
    that both joins become broadcasts under AQE.  l_quantity is
    integer-valued, so the double sum is exact in any order — no
    decimal accumulation needed."""
    cat = Catalog(spark, sf_dir)
    big = (
        cat.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(cat.table("orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cat.table("customer"), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# --- TPC-H Q22 shape (adapted): dormant high-balance customers --------------
@register(
    "q22_dormant_high_balance",
    sql="""
    WITH ab AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
               / count(c_acctbal) AS avg_bal
        FROM customer WHERE c_acctbal > 0.0)
    SELECT n.n_name AS nation, count(*) AS numcust,
           CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS totacctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    CROSS JOIN ab
    WHERE c.c_acctbal > ab.avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def q22_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted (the schema has no c_phone, and every
    customer has SOME order at small SFs, so "never ordered" is
    replaced by "no order since 1999" — dormant accounts): customers
    with above-positive-average balance and no recent order, counted
    per nation.  Q22's two signature shapes survive intact: the
    scalar subquery (avg balance, computed with the exact-decimal sum
    so the float gate ``c_acctbal > avg`` is engine-identical) and
    the NOT EXISTS anti-join.

    Scale: the scalar avg is a 1-row broadcast; the anti-join
    shuffles on custkey (AQE broadcasts the filtered orders side when
    it fits); nation broadcasts."""
    cat = Catalog(spark, sf_dir)
    cust = cat.table("customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum(F.col("c_acctbal")) / F.count("c_acctbal")).alias("avg_bal")
    )
    recent = cat.table("orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .join(
            F.broadcast(cat.table("nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("nation")
    )


# --- TPC-H Q6 shape: pure scan-filter aggregate -----------------------------
@register(
    "q6_forecast_revenue_change",
    sql="""
    SELECT CAST(round(sum(CAST(l_extendedprice * l_discount
                               AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure scan→filter→global-aggregate — zero joins,
    zero shuffles beyond the final 1-row reduce.  Every predicate
    (date range, discount band, quantity cap) pushes into the parquet
    scan as PushedFilters, so at 100 TB the stage reads only row
    groups whose min/max stats overlap the bands.  The discount BETWEEN
    compares the stored doubles against the same literals in both
    engines — no arithmetic, no epsilon."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 2).alias(
                "revenue"
            )
        )
    )


# --- TPC-H Q8 shape: national market share ----------------------------------
@register(
    "q8_national_market_share",
    sql="""
    WITH v AS (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
        JOIN region r   ON n1.n_regionkey = r.r_regionkey
        JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01')
    SELECT o_year,
           round(CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_3'
                                    THEN volume ELSE 0.0 END
                               AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(sum(CAST(volume AS DECIMAL(38,6))) AS DOUBLE),
                 6) AS mkt_share
    FROM v GROUP BY o_year ORDER BY o_year
    """,
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of a region's order volume for one
    part type, by order year — the widest join graph in the suite
    (8 tables, nation joined TWICE under different roles).

    Scale: part/supplier/nation/region broadcast (or AQE-picked); the
    fact chain shuffles once on orderkey and once on custkey; both
    decimal sums ride one aggregate, and the share is a single
    deterministic double division (see functions/exact.py on why
    division rounds stay in double space)."""
    cat = Catalog(spark, sf_dir)
    n1 = cat.table("nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = cat.table("nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    orders = cat.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cat.table("part")
        .filter(F.col("p_type") == "STANDARD")
        .join(cat.table("lineitem"), F.col("p_partkey") == F.col("l_partkey"))
        .join(cat.table("supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cat.table("customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(
            F.broadcast(cat.table("region")),
            F.col("c_rk") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "ASIA")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                dsum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        F.lit(0.0)
                    )
                )
                / dsum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --- TPC-H Q15 shape: top supplier via scalar-max subquery ------------------
@register(
    "q15_top_supplier_revenue",
    sql="""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,6))), 2) AS total_revenue_d
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(rev.total_revenue_d AS DOUBLE) AS total_revenue
    FROM supplier s JOIN rev ON s.s_suppkey = rev.supplier_no
    WHERE rev.total_revenue_d = (SELECT max(total_revenue_d) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with the maximum quarterly revenue —
    the scalar-max-subquery shape (the spec's REVENUE view becomes a
    CTE).  The ``= max`` equality gate runs on the EXACT 2-decimal
    DECIMAL revenue in both engines, so a float ULP cannot drop or
    duplicate the argmax row — the classic hazard of this query.

    Scale: the revenue aggregate is one shuffle on suppkey; the 1-row
    max broadcasts; the supplier join broadcasts the (tiny) winning
    set.  ``rev`` is persisted because it feeds BOTH the max and the
    join — DataFrames have no CTE reuse, so without it the lineitem
    scan+aggregate runs twice (seen in the plan audit)."""
    cat = Catalog(spark, sf_dir)
    rev = (
        cat.table("lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(38,6)")
                ),
                2,
            ).alias("total_revenue_d")
        )
        .persist()
    )
    mx = rev.agg(F.max("total_revenue_d").alias("max_rev"))
    return (
        cat.table("supplier")
        .join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue_d") == F.col("max_rev"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue_d").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# --- The customer↔supplier trade graph the three graph queries walk ----------
def _trade_graph_sql(min_lines: int | None = None) -> str:
    """Oracle twin of :func:`_trade_edges`: the ``pairs``, ``edges``
    and ``nodes`` CTEs (no leading ``WITH``, no trailing comma)."""
    distinct, having = ("DISTINCT ", "") if min_lines is None else (
        "", f" GROUP BY 1, 2 HAVING count(*) >= {min_lines}"
    )
    return f"""pairs AS (
        SELECT {distinct}o_custkey AS c, l_suppkey + 1000000 AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey{having}),
    edges AS (SELECT c AS src, s AS dst FROM pairs
              UNION ALL SELECT s AS src, c AS dst FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges)"""


def _trade_edges(cat: Catalog, min_lines: int | None = None) -> DataFrame:
    """The bidirectional customer↔supplier trade graph: an edge each
    way per distinct (customer, supplier) pair that ever traded —
    only pairs with ≥ ``min_lines`` line items when given — supplier
    ids offset by 1,000,000 into their own key space."""
    trades = cat.table("orders").join(
        cat.table("lineitem"), F.col("o_orderkey") == F.col("l_orderkey")
    )
    c = F.col("o_custkey").alias("c")
    s = (F.col("l_suppkey") + F.lit(1000000)).alias("s")
    if min_lines is None:
        pairs = trades.select(c, s).distinct()
    else:
        pairs = (
            trades.groupBy(c, s)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= min_lines)
            .select("c", "s")
        )
    return pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).union(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))


# --- Iterative graph: PageRank over the customer↔supplier trade graph -------
def _pr_iter_sql(k: int) -> str:
    """One unrolled PageRank step (mirrors operators/graph.py::pagerank
    op-for-op: double division per edge, DECIMAL(38,30) sum, damping
    0.5 — an exact binary double — then round-10 quantization)."""
    return f"""
    c{k} AS (SELECT e.dst AS node,
                    CAST(sum(CAST(p.rank / d.deg AS DECIMAL(38,30)))
                         AS DOUBLE) AS cin
             FROM edges e
             JOIN r{k - 1} p ON e.src = p.node
             JOIN deg d ON e.src = d.src
             GROUP BY e.dst),
    r{k} AS (SELECT nodes.node,
                    round((1 - 0.5) / nn.n
                          + 0.5 * coalesce(c{k}.cin, 0.0), 10) AS rank
             FROM nodes CROSS JOIN nn
             LEFT JOIN c{k} ON c{k}.node = nodes.node)"""


@register(
    "pagerank_trade_graph",
    sql=f"""
    WITH {_trade_graph_sql()},
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
    {_pr_iter_sql(1)},
    {_pr_iter_sql(2)},
    {_pr_iter_sql(3)}
    SELECT node, rank FROM r3
    ORDER BY rank DESC, node
    LIMIT 50
    """,
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/graph.py) over the bidirectional
    customer↔supplier trade graph (an edge per distinct pair that
    ever traded, supplier ids offset into their own key space) —
    3 power iterations, damping 0.5, top-50 nodes.  The iterative
    join+aggregate shape a recommendation engine uses for node
    importance; the oracle replays every iteration as unrolled CTEs,
    so the value hash pins the whole recurrence, not just the final
    projection.

    Scale: each iteration is one shuffle of the edge list keyed by
    src + one by dst; ranks stay broadcastable until |V| ~ billions."""
    from prod_recommendation_pyspark_spark.operators.graph import pagerank

    edges = _trade_edges(Catalog(spark, sf_dir))
    pr = pagerank(edges, iterations=3, damping=0.5, round_each=10)
    return pr.orderBy(F.col("rank").desc(), "node").limit(50)


# --- Quantile binning: data-driven bucket boundaries ------------------------
@register(
    "quantile_bins_totalprice",
    sql="""
    WITH qs AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
                       quantile_cont(o_totalprice, 0.50) AS q2,
                       quantile_cont(o_totalprice, 0.75) AS q3
                FROM orders)
    SELECT CASE WHEN o_totalprice <  q1 THEN 'Q1'
                WHEN o_totalprice <  q2 THEN 'Q2'
                WHEN o_totalprice <  q3 THEN 'Q3'
                ELSE 'Q4' END AS bucket,
           count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2)
                AS DOUBLE) AS total_price
    FROM orders CROSS JOIN qs
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def quantile_bins_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile binning with DATA-DRIVEN boundaries (vs
    ``bucketize_totalprice``'s fixed splits): exact quartiles from one
    aggregate (``F.percentile`` ≡ DuckDB ``quantile_cont`` — already
    value-proven by ``percentiles_price_by_status``), broadcast back
    as a 1-row frame, then a pure CASE projection + grouped counts.
    The two-phase compute-splits-then-apply pattern every feature
    pipeline's quantile discretizer uses; the bucket gates compare
    identical doubles in both engines."""
    orders = Catalog(spark, sf_dir).table("orders")
    qs = orders.agg(
        F.percentile("o_totalprice", 0.25).alias("q1"),
        F.percentile("o_totalprice", 0.50).alias("q2"),
        F.percentile("o_totalprice", 0.75).alias("q3"),
    )
    p = F.col("o_totalprice")
    return (
        orders.crossJoin(F.broadcast(qs))
        .groupBy(
            F.when(p < F.col("q1"), "Q1")
            .when(p < F.col("q2"), "Q2")
            .when(p < F.col("q3"), "Q3")
            .otherwise("Q4")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(p, 2).alias("total_price"),
        )
        .orderBy("bucket")
    )


# --- Per-group closed-form linear regression from exact moments -------------
@register(
    "regression_price_vs_quantity",
    sql="""
    WITH m AS (
        SELECT l_returnflag,
               count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS sy,
               CAST(sum(CAST(l_quantity * l_extendedprice
                             AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(l_quantity * l_quantity
                             AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 4) AS intercept
    FROM m
    ORDER BY l_returnflag
    """,
)
def regression_price_vs_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares line (price ~ quantity) from
    EXACT decimal moment sums — the closed-form
    ``slope = (n·Σxy − Σx·Σy)/(n·Σxx − Σx²)`` computed from
    DECIMAL(38,6)-accumulated Σx, Σy, Σxy, Σxx, so every input to the
    float arithmetic is engine-identical (built-in ``regr_slope``
    accumulates raw doubles — summation-order ULP drift across
    engines, the exact class functions/exact.py documents).  One
    grouped aggregate, five sums, zero extra passes — the grouped
    analytics a feature store derives trend features with."""
    li = Catalog(spark, sf_dir).table("lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    # Moments cast to DOUBLE after the exact DECIMAL accumulation, as
    # in the oracle: the closed-form formulas then run in cheap double
    # arithmetic (leaving them DECIMAL made Catalyst emit Decimal128
    # expression code past janino's 64KB method limit — the whole
    # stage silently fell back to interpreted execution, seen in the
    # r7 sf0.1 sweep log).
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x).cast("double").alias("sx"),
        dsum(y).cast("double").alias("sy"),
        dsum(x * y).cast("double").alias("sxy"),
        dsum(x * x).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        m.select(
            "l_returnflag",
            "n",
            F.round(slope, 6).alias("slope"),
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
                "intercept"
            ),
        )
        .orderBy("l_returnflag")
    )


# --- RFM customer segmentation ----------------------------------------------
@register(
    "rfm_segmentation_customers",
    sql="""
    WITH rfm AS (
        SELECT c.c_custkey,
               date_diff('day', DATE '1990-01-01',
                         CAST(max(o.o_orderdate) AS DATE)) AS recency_day,
               count(*) AS frequency,
               CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(38,6))), 2)
                    AS DOUBLE) AS monetary
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey),
    scored AS (
        SELECT *,
               ntile(4) OVER (ORDER BY recency_day, c_custkey) AS r_score,
               ntile(4) OVER (ORDER BY frequency, c_custkey)   AS f_score,
               ntile(4) OVER (ORDER BY monetary, c_custkey)    AS m_score
        FROM rfm)
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           count(*) AS n_customers,
           CAST(round(sum(CAST(monetary AS DECIMAL(38,6))), 2) AS DOUBLE)
               AS segment_value
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def rfm_segmentation_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value quartiling
    (recency of last order, order frequency, monetary total), each
    dimension ntile(4)-scored with a custkey tiebreak so quartile
    boundaries are deterministic in both engines, then segment-level
    rollup.  Recency is integer days since an epoch date (NTZ→date is
    timezone-free in both engines); monetary sums are exact decimal.

    Scale: one join+groupBy shuffle builds the per-customer RFM table;
    the three ntiles are global windows over ONE ROW PER CUSTOMER —
    the projection is already aggregated, so the single-partition
    window is |customers| rows, not the fact table (acceptable to
    ~100M customers; beyond that swap ntile for percentile-split
    joins like quantile_bins)."""
    cat = Catalog(spark, sf_dir)
    from pyspark.sql import Window

    rfm = (
        cat.table("customer")
        .join(cat.table("orders"), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey")
        .agg(
            F.max("o_orderdate").alias("t_last"),
            F.count(F.lit(1)).alias("frequency"),
            dsum(F.col("o_totalprice"), 2).alias("monetary"),
        )
        .select(
            "c_custkey",
            F.datediff(
                F.col("t_last").cast("date"),
                F.lit("1990-01-01").cast("date"),
            ).alias("recency_day"),
            "frequency",
            "monetary",
        )
    )
    scored = rfm.select(
        "*",
        F.ntile(4)
        .over(Window.orderBy("recency_day", "c_custkey"))
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy("frequency", "c_custkey"))
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy("monetary", "c_custkey"))
        .alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("monetary"), 2).alias("segment_value"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# --- Market-basket association rules over order contents --------------------
@register(
    "brand_association_rules",
    sql="""
    WITH ob AS (SELECT DISTINCT l.l_orderkey, p.p_brand
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob),
    sup AS (SELECT p_brand, count(*) AS s FROM ob GROUP BY p_brand),
    pairs AS (SELECT a.p_brand AS antecedent, b.p_brand AS consequent,
                     count(*) AS s_ab
              FROM ob a JOIN ob b
                ON a.l_orderkey = b.l_orderkey
               AND a.p_brand <> b.p_brand
              GROUP BY a.p_brand, b.p_brand)
    SELECT antecedent, consequent,
           CAST(s_ab AS BIGINT) AS pair_support,
           round(s_ab / sa.s, 6) AS confidence,
           round((s_ab / sa.s) / (sc.s / n.n_orders), 6) AS lift
    FROM pairs
    JOIN sup sa ON pairs.antecedent = sa.p_brand
    JOIN sup sc ON pairs.consequent = sc.p_brand
    CROSS JOIN n
    WHERE s_ab >= n.n_orders * 0.02
    ORDER BY antecedent, consequent
    """,
)
def brand_association_rules(
    spark: SparkSession, sf_dir: str, max_basket: int | None = None
) -> DataFrame:
    """Market-basket association rules over order contents (brand →
    brand): pair support from a within-order self-join on DISTINCT
    (order, brand) rows, confidence = sup(a,b)/sup(a), lift =
    confidence / P(b).  All ratios are single divisions of exact
    integer counts — engine-identical doubles — rounded for emission.

    Scale: the within-order self-join is the classic basket blowup —
    bounded here because baskets are small (items-per-order ≤ ~7).
    ``max_basket`` is the 100 TB guard: a basket of b brands yields
    b·(b−1) pair rows, so one pathological 10⁴-brand basket alone
    emits 10⁸ rows into the pair shuffle; capping keeps each order's
    contribution ≤ max_basket·(max_basket−1) (deterministic cap: the
    first ``max_basket`` brands in lexical order, so reruns agree —
    the same bounded-key discipline as MinHash ``max_bucket``).  The
    registered query leaves it None so the DuckDB oracle replays the
    uncapped semantics.  Min support is RELATIVE (2% of orders) so the
    rule set stays decision-sized at every scale factor."""
    cat = Catalog(spark, sf_dir)
    ob = (
        cat.table("lineitem")
        .join(
            F.broadcast(cat.table("part")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    if max_basket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("l_orderkey").orderBy("p_brand")
        ob = (
            ob.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_basket)
            .drop("__rn")
        )
    # four branches (order count, both support sides, pair join)
    # hang off this table — persist or the scan+distinct runs 4x
    ob = ob.persist()
    n = ob.select(F.count_distinct("l_orderkey").alias("n_orders"))
    sup = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("s"))
    a = ob.select(
        F.col("l_orderkey"), F.col("p_brand").alias("antecedent")
    )
    b = ob.select(
        F.col("l_orderkey"), F.col("p_brand").alias("consequent")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("s_ab"))
    )
    sa = sup.select(F.col("p_brand").alias("antecedent"), F.col("s").alias("sa"))
    sc = sup.select(F.col("p_brand").alias("consequent"), F.col("s").alias("sc"))
    return (
        pairs.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sc), "consequent")
        .crossJoin(F.broadcast(n))
        .filter(F.col("s_ab") >= F.col("n_orders") * 0.02)
        .select(
            "antecedent",
            "consequent",
            F.col("s_ab").alias("pair_support"),
            F.round(F.col("s_ab") / F.col("sa"), 6).alias("confidence"),
            F.round(
                (F.col("s_ab") / F.col("sa"))
                / (F.col("sc") / F.col("n_orders")),
                6,
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


# --- Pareto / cumulative-contribution analysis ------------------------------
@register(
    "pareto_brand_revenue",
    sql="""
    WITH rev AS (
        SELECT p.p_brand AS brand,
               CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(38,6))), 2) AS DOUBLE)
                   AS revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand),
    tot AS (SELECT CAST(sum(CAST(revenue AS DECIMAL(38,6))) AS DOUBLE)
                       AS total FROM rev),
    ranked AS (
        SELECT brand, revenue,
               CAST(sum(CAST(revenue AS DECIMAL(38,6)))
                        OVER (ORDER BY revenue DESC, brand)
                    AS DOUBLE) AS cum_revenue
        FROM rev)
    SELECT brand, revenue,
           round(cum_revenue / tot.total, 6) AS cum_share,
           CAST(round(cum_revenue / tot.total, 6) <= 0.8 AS BOOLEAN)
               AS in_head
    FROM ranked CROSS JOIN tot
    ORDER BY revenue DESC, brand
    """,
)
def pareto_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (cumulative-contribution) analysis: brands ranked by
    revenue with running cumulative share and the 80%-head flag — the
    concentration diagnostic behind "which 20% of SKUs drive 80% of
    revenue".  The running sum accumulates the ALREADY-ROUNDED
    per-brand revenues in DECIMAL (exact at any partitioning), the
    share is one double division, and the head flag gates on the
    ROUNDED share so no float boundary can flip it between engines.

    Scale: per-brand aggregate is one shuffle; the running-total
    window is over |brands| pre-aggregated rows (fine to millions of
    groups; beyond that, two-phase: range-partition by revenue +
    per-partition offsets)."""
    from pyspark.sql import Window

    cat = Catalog(spark, sf_dir)
    rev = (
        cat.table("lineitem")
        .join(
            F.broadcast(cat.table("part")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue")
        )
    )
    tot = rev.agg(dsum(F.col("revenue")).alias("total"))
    w = (
        Window.orderBy(F.col("revenue").desc(), "brand")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col("revenue").cast("decimal(38,6)")).over(w).cast("double")
    share = F.round(cum / F.col("total"), 6)
    return (
        rev.crossJoin(F.broadcast(tot))
        .select(
            "brand",
            "revenue",
            share.alias("cum_share"),
            (share <= 0.8).alias("in_head"),
        )
        .orderBy(F.col("revenue").desc(), "brand")
    )


# --- Event-type transition matrix (first-order Markov counts) ---------------
@register(
    "event_transition_matrix",
    sql="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    cnt AS (SELECT prev_type, event_type AS next_type, count(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, next_type),
    tot AS (SELECT prev_type, sum(n) AS row_n FROM cnt GROUP BY prev_type)
    SELECT cnt.prev_type, cnt.next_type,
           CAST(cnt.n AS BIGINT) AS n_transitions,
           round(cnt.n / tot.row_n, 6) AS p_transition
    FROM cnt JOIN tot USING (prev_type)
    ORDER BY prev_type, next_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts/probabilities between
    consecutive event types per user (ordered by ts with event_id
    tiebreak — deterministic under ties) — the sequence-analytics
    staple feeding next-action models and anomaly detection.  One
    lag window per user + one bounded-key aggregate (≤ |types|²
    rows); each probability is a single division of exact integer
    counts."""
    from pyspark.sql import Window

    ev = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    cnt = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.groupBy("prev_type").agg(F.sum("n").alias("row_n"))
    return (
        cnt.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.col("n").alias("n_transitions"),
            F.round(F.col("n") / F.col("row_n"), 6).alias("p_transition"),
        )
        .orderBy("prev_type", "next_type")
    )


# --- Item-item collaborative-filtering similarity ---------------------------
@register(
    "item_item_cosine_topk",
    sql="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cnt AS (SELECT l_partkey, count(*) AS c FROM op GROUP BY l_partkey),
    pairs AS (SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
                     count(*) AS cooccur
              FROM op a JOIN op b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY a.l_partkey, b.l_partkey),
    sym AS (SELECT item_a, item_b, cooccur FROM pairs
            UNION ALL
            SELECT item_b AS item_a, item_a AS item_b, cooccur FROM pairs),
    scored AS (SELECT s.item_a, s.item_b,
                      CAST(s.cooccur AS BIGINT) AS cooccur,
                      round(CAST(s.cooccur AS DOUBLE)
                            / sqrt(CAST(ca.c AS DOUBLE)
                                   * CAST(cb.c AS DOUBLE)), 6) AS cosine
               FROM sym s
               JOIN cnt ca ON s.item_a = ca.l_partkey
               JOIN cnt cb ON s.item_b = cb.l_partkey),
    ranked AS (SELECT *, row_number() OVER (
                   PARTITION BY item_a
                   ORDER BY cosine DESC, item_b) AS rnk
               FROM scored)
    SELECT item_a, item_b, cooccur, cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    ORDER BY item_a, rnk
    """,
)
def item_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity: cosine over
    binary order-occurrence vectors, sim(a,b) = c_ab / sqrt(c_a*c_b),
    top-5 neighbours per item — the memory-based recommender that
    complements the ALS model path (reference
    recommender_prod_rec.py computes only the factorized variant).

    Floats: cooccur and the two marginals are exact integers; the
    score is one division and one sqrt of their doubles — both IEEE
    correctly-rounded single ops, so engines agree bit-for-bit — and
    ranking happens on the ROUNDED score with an item tiebreak (the
    float-gate rule from the round-5 advice).

    Scale: the within-order self-join is bounded by basket size
    (≤ ~7 items/order ⇒ ≤ 21 pairs per order) — linear in orders,
    not quadratic in items; the marginal-count join-back broadcasts
    (one row per distinct item).  At 100 TB, cap giant baskets like
    MinHash's ``max_bucket`` and co-partition ``op`` by orderkey so
    the pair join is shuffle-free after the distinct."""
    from pyspark.sql import Window

    cat = Catalog(spark, sf_dir)
    op = (
        cat.table("lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # marginals + both pair-join sides hang off this table
        .persist()
    )
    cnt = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = op.select("l_orderkey", F.col("l_partkey").alias("item_a"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("item_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("cooccur"))
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("item_b").alias("item_a"),
            F.col("item_a").alias("item_b"),
            "cooccur",
        )
    )
    ca = cnt.select(F.col("l_partkey").alias("item_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("l_partkey").alias("item_b"), F.col("c").alias("cb"))
    scored = (
        sym.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .select(
            "item_a",
            "item_b",
            F.col("cooccur").cast("long").alias("cooccur"),
            F.round(
                F.col("cooccur").cast("double")
                / F.sqrt(
                    F.col("ca").cast("double") * F.col("cb").cast("double")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item_a").orderBy(
        F.col("cosine").desc(), F.col("item_b")
    )
    return (
        scored.select(
            "*", F.row_number().over(w).cast("int").alias("rnk")
        )
        .filter(F.col("rnk") <= 5)
        .orderBy("item_a", "rnk")
    )


# --- TPC-H Q21 analog: suppliers who kept orders waiting ---------------------
@register(
    "q21_waiting_suppliers",
    sql="""
    WITH ll AS (
        SELECT l.l_orderkey, l.l_suppkey,
               CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 90
                    THEN 1 ELSE 0 END AS is_late
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'),
    os AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN is_late = 1
                                   THEN l_suppkey END) AS n_late_supp
        FROM ll GROUP BY l_orderkey)
    SELECT s.s_name AS s_name, count(*) AS numwait
    FROM ll l1
    JOIN os ON os.l_orderkey = l1.l_orderkey
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.is_late = 1 AND os.n_supp >= 2 AND os.n_late_supp = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting) adapted to this
    schema: no l_receiptdate/l_commitdate, so "late" = shipped more
    than 90 days after the order date (q12's lateness rule); no
    nation column filter so small SFs keep a meaningful result.  The
    correlated EXISTS ("another supplier participated") and NOT
    EXISTS ("no OTHER supplier was late") collapse into one per-order
    summary — n_supp >= 2 AND n_late_supp = 1 — turning two
    correlated subqueries into a single aggregate join, while the
    count keeps Q21's per-lineitem granularity.

    Scale: the order summary is one map-side-combinable aggregate on
    the SAME key (l_orderkey) the detail join uses, so the shuffle
    partitioning is reused; supplier join-back broadcasts.  No
    per-row subquery re-execution anywhere — the classic Q21 trap."""
    cat = Catalog(spark, sf_dir)
    ll = (
        cat.table("lineitem")
        .join(
            cat.table("orders").filter(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
                > 90,
                1,
            )
            .otherwise(0)
            .alias("is_late"),
        )
        # feeds BOTH the per-order summary and the detail side of the
        # final join — unpersisted, the lineitem+orders join runs twice
        .persist()
    )
    os_ = ll.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("is_late") == 1, F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    return (
        ll.filter(F.col("is_late") == 1)
        .join(
            os_.filter(
                (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
            ),
            "l_orderkey",
        )
        .join(
            F.broadcast(cat.table("supplier")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# --- Triangle counting on the part co-purchase graph -------------------------
@register(
    "triangle_count_parts",
    sql="""
    WITH inst AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    co AS (SELECT a.l_partkey AS u, b.l_partkey AS v
           FROM inst a JOIN inst b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY u, v HAVING count(*) >= 2),
    deg AS (SELECT node, count(*) AS d
            FROM (SELECT u AS node FROM co
                  UNION ALL SELECT v AS node FROM co) t
            GROUP BY node),
    ed AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND co.u < co.v)
                       THEN co.u ELSE co.v END AS src,
                  CASE WHEN du.d < dv.d OR (du.d = dv.d AND co.u < co.v)
                       THEN co.v ELSE co.u END AS dst
           FROM co
           JOIN deg du ON du.node = co.u
           JOIN deg dv ON dv.node = co.v),
    tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM ed e1
            JOIN ed e2 ON e1.src = e2.src AND e1.dst < e2.dst
            JOIN co e3 ON e3.u = e1.dst AND e3.v = e2.dst),
    corners AS (SELECT a AS part FROM tri
                UNION ALL SELECT b AS part FROM tri
                UNION ALL SELECT c AS part FROM tri)
    SELECT part, count(*) AS n_triangles
    FROM corners GROUP BY part
    ORDER BY n_triangles DESC, part
    LIMIT 20
    """,
)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (parts linked
    when bought together in >= 2 orders), top-20 parts by triangle
    participation — the graph-analytics cohesion metric alongside
    pagerank and connected components.

    Algorithm: degree-ordered orientation (each undirected edge
    points from its lower-(degree, id) endpoint), so every wedge is
    enumerated exactly once from its lowest corner and out-degrees
    are bounded by O(sqrt(m)) — the standard distributed triangle
    count that survives skewed hubs; a hub of degree d contributes
    wedges only through its (few) higher-ordered neighbours, never
    d^2 pairs.  The closing-edge probe joins back to the undirected
    edge list on its canonical (min, max) key.

    Scale: co-occurrence is bounded by basket size (linear in
    orders); the wedge join shuffles on src and the closing probe on
    the canonical pair key — both equi-joins AQE can re-balance.  The
    min-support HAVING is the density throttle: it keeps the edge
    list sparse at every SF so the wedge fan-out stays near-linear."""
    cat = Catalog(spark, sf_dir)
    inst = (
        cat.table("lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a = inst.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = inst.select("l_orderkey", F.col("l_partkey").alias("v"))
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
        # degree calc + orientation + closing-edge probe reuse this
        .persist()
    )
    deg = (
        co.select(F.col("u").alias("node"))
        .unionByName(co.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # No broadcast hint on the degree tables: they are |V| rows
    # (unbounded in the part count), so a forced broadcast over-commits
    # executor memory at scale — AQE picks broadcast while they're
    # small and degrades to shuffle-hash when they're not.
    ed = (
        co.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    e1 = ed.select(F.col("src"), F.col("dst").alias("b"))
    e2 = ed.select(F.col("src"), F.col("dst").alias("c"))
    tri = (
        e1.join(e2, "src")
        .filter(F.col("b") < F.col("c"))
        .join(
            co.select(F.col("u").alias("b"), F.col("v").alias("c")),
            ["b", "c"],
        )
        .select(F.col("src").alias("a"), "b", "c")
    )
    # one explode pass, NOT a 3-way union of tri projections — the
    # union form re-evaluates the wedge join once per corner column
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("part")
    )
    return (
        corners.groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "part")
        .limit(20)
    )


# --- Autocorrelation of the daily revenue series ------------------------------
@register(
    "autocorr_daily_revenue",
    sql="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2)
                    AS DOUBLE) AS rev
        FROM orders GROUP BY 1),
    lags AS (SELECT CAST(UNNEST(range(1, 8)) AS INT) AS lag),
    pairs AS (
        SELECT l.lag, d.rev, p.rev AS prev_rev
        FROM daily d
        CROSS JOIN lags l
        JOIN daily p ON p.day = d.day - l.lag)
    SELECT lag,
           count(*) AS n_pairs,
           round(corr(rev, prev_rev), 4) AS autocorr
    FROM pairs GROUP BY lag ORDER BY lag
    """,
)
def autocorr_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily order-revenue series —
    the seasonality diagnostic (a weekly cycle shows up as a lag-7
    peak).  Calendar lags, not row lags: the pair join matches
    day - lag exactly, so missing days shorten n_pairs instead of
    silently misaligning the series.

    Scale: the series is one map-side-combinable aggregate of orders
    (|days| rows ~ thousands regardless of SF); the lag expansion and
    Pearson corr run over |days| x 7 rows.  The heavy table is
    touched exactly once.  Daily revenue is summed in decimal space
    (``dsum``) so both engines see bit-identical series values;
    corr's one-pass accumulation may differ in summation order, so
    the emitted coefficient is rounded to 4 decimals."""
    daily = (
        Catalog(spark, sf_dir)
        .table("orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(dsum(F.col("o_totalprice"), 2).alias("rev"))
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    prev = daily.select(
        F.col("day").alias("pday"), F.col("rev").alias("prev_rev")
    )
    pairs = (
        daily.crossJoin(F.broadcast(lags))
        .join(prev, F.col("pday") == F.date_sub(F.col("day"), F.col("lag")))
    )
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("rev", "prev_rev"), 4).alias("autocorr"),
        )
        .orderBy("lag")
    )


# --- Common-neighbor link prediction on the part co-purchase graph ------------
@register(
    "link_prediction_parts",
    sql="""
    WITH inst AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    co AS (SELECT a.l_partkey AS u, b.l_partkey AS v
           FROM inst a JOIN inst b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY u, v HAVING count(*) >= 2),
    und AS (SELECT u AS a, v AS b FROM co
            UNION ALL SELECT v AS a, u AS b FROM co),
    deg AS (SELECT a AS node, count(*) AS d FROM und GROUP BY a),
    ctr AS (SELECT und.a, und.b FROM und
            JOIN deg ON deg.node = und.a WHERE deg.d <= 64),
    cn AS (SELECT w1.b AS u, w2.b AS v, count(*) AS common_neighbors
           FROM ctr w1 JOIN ctr w2
             ON w1.a = w2.a AND w1.b < w2.b
           GROUP BY u, v),
    nonadj AS (SELECT cn.* FROM cn
               LEFT JOIN co ON co.u = cn.u AND co.v = cn.v
               WHERE co.u IS NULL)
    SELECT n.u AS u, n.v AS v, n.common_neighbors AS common_neighbors,
           round(n.common_neighbors
                 / (du.d + dv.d - n.common_neighbors), 6) AS jaccard
    FROM nonadj n
    JOIN deg du ON du.node = n.u
    JOIN deg dv ON dv.node = n.v
    ORDER BY common_neighbors DESC, u, v
    LIMIT 20
    """,
)
def link_prediction_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph: for part pairs
    NOT currently connected, count common neighbors and score the
    neighborhood Jaccard — "parts that share many co-purchase
    partners but were never bought together", the classic
    collaborative candidate generator.

    Scale: wedges are enumerated only through centers of degree <= 64
    (a documented semantic of the query, mirrored in the oracle) —
    the standard hub cap that bounds the quadratic wedge fan-out a
    celebrity node would generate; a center of degree d yields
    d(d-1)/2 <= 2016 pairs.  The common-neighbor count and the
    adjacency anti-join are both equi-shuffles on the canonical
    (u, v) pair key; scores derive from exact integer counts, so the
    only float op is one IEEE division, identical in both engines."""
    cat = Catalog(spark, sf_dir)
    inst = (
        cat.table("lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a = inst.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = inst.select("l_orderkey", F.col("l_partkey").alias("v"))
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
        # feeds both directions of und AND the adjacency anti-join
        .persist()
    )
    und = co.select(
        F.col("u").alias("a"), F.col("v").alias("b")
    ).unionByName(co.select(F.col("v").alias("a"), F.col("u").alias("b")))
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    # deg is |V| rows — unbounded — so no forced broadcast; AQE
    # chooses broadcast only while the filtered table is actually small
    ctr = und.join(
        deg.filter(F.col("d") <= 64), und.a == F.col("node")
    ).select("a", "b")
    w1 = ctr.select("a", F.col("b").alias("u"))
    w2 = ctr.select("a", F.col("b").alias("v"))
    cn = (
        w1.join(w2, "a")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    nonadj = cn.join(co, ["u", "v"], "left_anti")
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    return (
        nonadj.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            F.round(
                F.col("common_neighbors")
                / (F.col("du") + F.col("dv") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("common_neighbors").desc(), "u", "v")
        .limit(20)
    )


# --- CUSUM changepoint scan over daily revenue --------------------------------
@register(
    "cusum_changepoint_revenue",
    sql="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS rev
        FROM orders GROUP BY 1),
    cents AS (SELECT day, rev, CAST(rev * 100 AS BIGINT) AS rev_cents
              FROM daily),
    t AS (SELECT sum(rev_cents) AS total_cents,
                 count(*) AS n FROM cents),
    c AS (SELECT day, rev,
                 CAST(sum(cents.rev_cents * t.n - t.total_cents)
                     OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT)
                     AS cusum_n_cents
          FROM cents CROSS JOIN t)
    SELECT day, CAST(rev AS DOUBLE) AS daily_rev,
           cusum_n_cents
    FROM c ORDER BY abs(cusum_n_cents) DESC, day LIMIT 10
    """,
)
def cusum_changepoint_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over the daily order-revenue series: the
    top-10 days by |cumulative deviation from the series mean| — the
    day where |CUSUM| peaks is the classic single-changepoint
    estimate for a level shift.

    Exactness: revenue is held in integer CENTS and the deviation is
    scaled by the series length (``n*rev - total`` instead of
    ``rev - total/n``), so the whole statistic — including the
    running window sum — is bigint arithmetic with NO float op
    anywhere; the argmax ranking cannot drift between engines.  The
    scaling is monotone, so the ranking equals the classic CUSUM's.

    Scale: one map-side-combinable aggregate over orders; the window
    runs over the |days|-row series (thousands of rows regardless of
    SF — a single-partition global window is the right plan for a
    driver-bounded series, and is documented as such)."""
    from pyspark.sql import Window

    daily = (
        Catalog(spark, sf_dir)
        .table("orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2
            ).alias("rev")
        )
    )
    cents = daily.select(
        "day", "rev", (F.col("rev") * 100).cast("long").alias("rev_cents")
    )
    t = cents.agg(
        F.sum("rev_cents").alias("total_cents"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = cents.crossJoin(F.broadcast(t)).select(
        "day",
        "rev",
        F.sum(
            F.col("rev_cents") * F.col("n") - F.col("total_cents")
        )
        .over(w)
        .alias("cusum_n_cents"),
    )
    return c.select(
        "day",
        F.col("rev").cast("double").alias("daily_rev"),
        "cusum_n_cents",
    ).orderBy(F.abs(F.col("cusum_n_cents")).desc(), "day").limit(10)


# --- Exact-moment Pearson correlation matrix --------------------------------
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount"]
_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1:]
]


def _corr_sql() -> str:
    moment = ", ".join(
        [f"CAST(count(*) AS DOUBLE) AS n"]
        + [
            f"CAST(sum(CAST({c} AS DECIMAL(38,6))) AS DOUBLE) AS s_{c}"
            for c in _CORR_COLS
        ]
        + [
            f"CAST(sum(CAST({c} * {c} AS DECIMAL(38,6))) AS DOUBLE) AS ss_{c}"
            for c in _CORR_COLS
        ]
        + [
            f"CAST(sum(CAST({a} * {b} AS DECIMAL(38,6))) AS DOUBLE) AS sp_{a}_{b}"
            for a, b in _CORR_PAIRS
        ]
    )
    rows = " UNION ALL ".join(
        f"""SELECT '{a}' AS var_a, '{b}' AS var_b,
            round((n * sp_{a}_{b} - s_{a} * s_{b})
                  / (sqrt(n * ss_{a} - s_{a} * s_{a})
                     * sqrt(n * ss_{b} - s_{b} * s_{b})), 6) AS corr
            FROM m"""
        for a, b in _CORR_PAIRS
    )
    return f"""
    WITH m AS (SELECT {moment} FROM lineitem)
    {rows}
    ORDER BY var_a, var_b
    """


@register("correlation_matrix_lineitem", sql=_corr_sql())
def correlation_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over the lineitem measures from
    EXACT raw moments: one aggregation pass collects n, Σx, Σx², Σxy
    with DECIMAL(38,6) accumulation (order-independent — `F.corr`'s
    double co-moment sums are partitioning-dependent in their last
    ULPs, which is exactly the cross-engine flake class
    `functions/exact.py` exists to kill), then each pairwise
    correlation is one fixed double-arithmetic formula over those
    exact sums — engine-identical, so the coefficients themselves sit
    under the value hash.

    Scale shape: a single map-side-combined scan pass producing one
    ~10-cell row regardless of corpus size (the textbook mergeable
    moment sketch — at 100 TB this beats 3 separate `corr` jobs by
    sharing the scan), then k(k-1)/2 driver-free struct explosions."""
    li = Catalog(spark, sf_dir).table("lineitem")
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in _CORR_COLS:
        aggs.append(dsum(F.col(c)).cast("double").alias(f"s_{c}"))
        aggs.append(
            dsum(F.col(c) * F.col(c)).cast("double").alias(f"ss_{c}")
        )
    for a, b in _CORR_PAIRS:
        aggs.append(
            dsum(F.col(a) * F.col(b)).cast("double").alias(f"sp_{a}_{b}")
        )
    m = li.agg(*aggs)
    n = F.col("n")
    rows = [
        F.struct(
            F.lit(a).alias("var_a"),
            F.lit(b).alias("var_b"),
            F.round(
                (n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}"))
                / (
                    F.sqrt(
                        n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
                    )
                    * F.sqrt(
                        n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
                    )
                ),
                6,
            ).alias("corr"),
        )
        for a, b in _CORR_PAIRS
    ]
    return (
        m.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.var_a", "r.var_b", "r.corr")
        .orderBy("var_a", "var_b")
    )


# --- Iterative graph: label-propagation communities --------------------------
def _lpa_iter_sql(k: int) -> str:
    """One unrolled synchronous LPA step (mirrors
    operators/graph.py::label_propagation op-for-op: in-neighbor label
    counts, argmax with ties to the SMALLEST label, keep the old label
    when a node has no in-edges)."""
    return f"""
    b{k} AS (SELECT e.dst AS node, l.label, count(*) AS c
             FROM edges e JOIN l{k - 1} l ON e.src = l.node
             GROUP BY e.dst, l.label),
    w{k} AS (SELECT node, label,
                    row_number() OVER (PARTITION BY node
                                       ORDER BY c DESC, label) AS rn
             FROM b{k}),
    l{k} AS (SELECT p.node, coalesce(m.label, p.label) AS label
             FROM l{k - 1} p
             LEFT JOIN (SELECT node, label FROM w{k} WHERE rn = 1) m
               ON m.node = p.node)"""


@register(
    "label_propagation_communities",
    sql=f"""
    WITH {_trade_graph_sql(min_lines=2)},
    l0 AS (SELECT node, node AS label FROM nodes),
    {_lpa_iter_sql(1)},
    {_lpa_iter_sql(2)},
    {_lpa_iter_sql(3)}
    SELECT label AS community, count(*) AS n_members
    FROM l3
    GROUP BY label
    ORDER BY n_members DESC, community
    LIMIT 20
    """,
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via deterministic synchronous label
    propagation (operators/graph.py::label_propagation) on the
    bidirectional REPEAT-trade customer↔supplier graph (an edge only
    where the pair traded ≥2 line items — the dense one-shot graph
    collapses to a blob; repeat ties carry the community signal) —
    3 steps, then the 20 largest communities.  The whole recurrence is integer counting
    with a total tie order (most-frequent in-neighbor label, ties to
    the smallest), so the DuckDB oracle unrolls every step as CTEs
    and the value hash pins the full assignment sequence — the
    determinism the randomized textbook LPA can't offer an oracle.

    Complements the other two graph operators: connected_components
    answers "reachable at all", pagerank "who matters", LPA "who
    clusters together" — the corpus-partitioning primitive for
    domain-stratified sampling over a web graph.

    Scale: one edges×labels shuffle join + ONE partial-aggregatable
    argmax per step (max(struct(cnt, -label)) — no per-node window);
    labels are |V| rows; lineage cut by localCheckpoint exactly as
    pagerank."""
    from prod_recommendation_pyspark_spark.operators.graph import (
        label_propagation,
    )

    edges = _trade_edges(Catalog(spark, sf_dir), min_lines=2)
    labels = label_propagation(edges, iterations=3)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), "community")
        .limit(20)
    )


# --- Ranking-metric evaluation: NDCG@5 of item-item CF -----------------------
_NDCG_TERM = "CAST(round({rel} / log2({r} + 1), 6) AS DECIMAL(38,6))"


@register(
    "ndcg_item_item_cf",
    sql=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    train AS (SELECT * FROM op WHERE l_orderkey % 5 <> 0),
    test  AS (SELECT * FROM op WHERE l_orderkey % 5 = 0),
    cnt AS (SELECT l_partkey, count(*) AS c FROM train GROUP BY l_partkey),
    tp AS (SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
                  count(*) AS cooccur
           FROM train a JOIN train b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2),
    sym AS (SELECT item_a, item_b, cooccur FROM tp
            UNION ALL
            SELECT item_b, item_a, cooccur FROM tp),
    recs AS (SELECT item_a, item_b, rnk FROM (
                 SELECT s.item_a, s.item_b,
                        row_number() OVER (
                            PARTITION BY s.item_a
                            ORDER BY round(CAST(s.cooccur AS DOUBLE)
                                / sqrt(CAST(ca.c AS DOUBLE)
                                       * CAST(cb.c AS DOUBLE)), 6) DESC,
                                s.item_b) AS rnk
                 FROM sym s
                 JOIN cnt ca ON s.item_a = ca.l_partkey
                 JOIN cnt cb ON s.item_b = cb.l_partkey)
             WHERE rnk <= 5),
    ttp AS (SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
                   count(*) AS rel
            FROM test a JOIN test b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2),
    trel AS (SELECT item_a, item_b, rel FROM ttp
             UNION ALL
             SELECT item_b, item_a, rel FROM ttp),
    dcg AS (SELECT r.item_a,
                   sum({_NDCG_TERM.format(rel="coalesce(t.rel, 0)", r="r.rnk")})
                       AS dcg_d
            FROM recs r
            LEFT JOIN trel t ON t.item_a = r.item_a AND t.item_b = r.item_b
            GROUP BY r.item_a),
    ideal AS (SELECT item_a, rel,
                     row_number() OVER (PARTITION BY item_a
                                        ORDER BY rel DESC, item_b) AS r
              FROM trel),
    idcg AS (SELECT item_a,
                    sum({_NDCG_TERM.format(rel="rel", r="r")}) AS idcg_d
             FROM ideal WHERE r <= 5
             GROUP BY item_a)
    SELECT d.item_a,
           CAST(d.dcg_d AS DOUBLE) AS dcg,
           CAST(i.idcg_d AS DOUBLE) AS idcg,
           round(CAST(d.dcg_d AS DOUBLE) / CAST(i.idcg_d AS DOUBLE), 4)
               AS ndcg
    FROM dcg d JOIN idcg i ON d.item_a = i.item_a
    WHERE i.idcg_d > 0
    ORDER BY d.item_a
    """,
)
def ndcg_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-metric evaluation in-engine: NDCG@5 of the item-item
    CF recommender (train-basket co-occurrence cosine, the
    `item_item_cosine_topk` pipeline) against HELD-OUT relevance
    (co-occurrence counts in the modulo-split test baskets) — the
    eval a recommender pipeline runs beside RMSE (`als_grid_search`):
    RMSE scores predicted values, NDCG scores the thing shipped, the
    ranking.

    Float gates: ranking happens on round-6 scores with id tiebreaks;
    each DCG term rel/log2(rank+1) is quantized to 6 digits and
    summed in DECIMAL (a 5-term double sum is already
    order-dependent), so dcg, idcg, and every per-item ndcg replay
    exactly in the oracle.

    Scale: co-occurrence joins are basket-size-bounded (linear in
    orders); the eval joins are keyed on (item, item) pairs; nothing
    quadratic in the catalog."""
    cat = Catalog(spark, sf_dir)
    op = (
        cat.table("lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .persist()
    )
    train = op.filter(F.col("l_orderkey") % 5 != 0)
    test = op.filter(F.col("l_orderkey") % 5 == 0)

    def co_pairs(src, out_val):
        a = src.select(
            F.col("l_orderkey"), F.col("l_partkey").alias("item_a")
        )
        b = src.select(
            F.col("l_orderkey"), F.col("l_partkey").alias("item_b")
        )
        p = (
            a.join(b, "l_orderkey")
            .filter(F.col("item_a") < F.col("item_b"))
            .groupBy("item_a", "item_b")
            .agg(F.count(F.lit(1)).alias(out_val))
        )
        return p.unionByName(
            p.select(
                F.col("item_b").alias("item_a"),
                F.col("item_a").alias("item_b"),
                out_val,
            )
        )

    cnt = train.groupBy(F.col("l_partkey")).agg(
        F.count(F.lit(1)).alias("c")
    )
    sym = co_pairs(train, "cooccur")
    ca = cnt.select(F.col("l_partkey").alias("item_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("l_partkey").alias("item_b"), F.col("c").alias("cb"))
    scored = (
        sym.join(ca, "item_a")
        .join(cb, "item_b")
        .select(
            "item_a",
            "item_b",
            F.round(
                F.col("cooccur").cast("double")
                / F.sqrt(F.col("ca").cast("double") * F.col("cb").cast("double")),
                6,
            ).alias("s"),
        )
    )
    w = Window.partitionBy("item_a").orderBy(F.desc("s"), "item_b")
    recs = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("item_a", "item_b", "rnk")
    )
    trel = co_pairs(test, "rel")
    term = lambda rel, r: F.round(rel / F.log2(r + 1), 6).cast(  # noqa: E731
        "decimal(38,6)"
    )
    dcg = (
        recs.join(trel, ["item_a", "item_b"], "left")
        .groupBy("item_a")
        .agg(
            F.sum(term(F.coalesce("rel", F.lit(0)), F.col("rnk"))).alias(
                "dcg_d"
            )
        )
    )
    wi = Window.partitionBy("item_a").orderBy(F.desc("rel"), "item_b")
    idcg = (
        trel.withColumn("r", F.row_number().over(wi))
        .filter(F.col("r") <= 5)
        .groupBy("item_a")
        .agg(F.sum(term(F.col("rel"), F.col("r"))).alias("idcg_d"))
    )
    return (
        dcg.join(idcg, "item_a")
        .filter(F.col("idcg_d") > 0)
        .select(
            "item_a",
            F.col("dcg_d").cast("double").alias("dcg"),
            F.col("idcg_d").cast("double").alias("idcg"),
            F.round(
                F.col("dcg_d").cast("double")
                / F.col("idcg_d").cast("double"),
                4,
            ).alias("ndcg"),
        )
        .orderBy("item_a")
    )


# --- Exact-moment least squares: revenue trend per priority -----------------
@register(
    "linreg_daily_revenue_trend",
    sql="""
    WITH daily AS (
        SELECT o_orderpriority AS priority,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS x,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2)
                    AS DOUBLE) AS y
        FROM orders GROUP BY 1, 2),
    m AS (SELECT priority,
                 CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                 CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
                 CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
                 CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy,
                 CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
          FROM daily GROUP BY priority)
    SELECT priority, CAST(n AS BIGINT) AS n_days,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 4) AS intercept,
           round(pow(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    ORDER BY priority
    """,
)
def linreg_daily_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend (slope / intercept / R²) of daily
    revenue over the day index — the 'is this segment growing'
    statistic, computed from EXACT raw moments exactly like
    `correlation_matrix_lineitem`: one grouped pass accumulates
    n, Σx, Σy, Σx², Σy², Σxy in DECIMAL (order-independent), then
    each coefficient is a fixed double formula over those exact sums,
    so the fitted parameters themselves are engine-identical.  The
    x values are integer epoch days; the y values are the exact
    2-decimal daily revenues.

    Scale: daily rollup = one shuffle on (priority, day); the moment
    pass is map-side combined to one row per group — a regression
    over 100 TB of orders emits k rows and never sees the driver."""
    orders = Catalog(spark, sf_dir).table("orders")
    daily = (
        orders.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
            )
            .cast("long")
            .alias("x"),
        )
        .agg(dsum(F.col("o_totalprice"), 2).alias("y"))
    )
    # moments cast to DOUBLE post-accumulation, matching the oracle —
    # and keeping the closed-form arithmetic out of Decimal128 codegen
    m = daily.groupBy("priority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(F.col("x")).cast("double").alias("sx"),
        dsum(F.col("y")).cast("double").alias("sy"),
        dsum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        dsum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        dsum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "priority",
        n.cast("long").alias("n_days"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 4).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, 2)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    ).orderBy("priority")


# --- Holt linear-trend smoothing + forecast ----------------------------------
@register(
    "holt_forecast_daily_revenue",
    sql="""
    WITH RECURSIVE daily AS (
        SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2)
                    AS DOUBLE) AS y
        FROM orders GROUP BY 1, 2),
    series AS (SELECT priority, CAST(list(y ORDER BY day) AS DOUBLE[]) AS ys
               FROM daily GROUP BY priority),
    -- recursive unroll, NOT list_reduce: DuckDB's list_reduce struct
    -- lambda mutates acc field-by-field (a later field sees an
    -- earlier field's NEW value), so a coupled 2-state recurrence
    -- cannot be expressed there with Spark-compatible semantics
    st AS (
        SELECT priority, 1 AS t, len(ys) AS n,
               ys[1] AS l, CAST(0.0 AS DOUBLE) AS b, ys
        FROM series
        UNION ALL
        SELECT priority, t + 1, n,
               0.5 * ys[t + 1] + 0.5 * l + 0.5 * b,
               0.25 * ys[t + 1] - 0.25 * l + 0.75 * b,
               ys
        FROM st WHERE t < n)
    SELECT priority, CAST(n AS BIGINT) AS n_days,
           round(l, 4) AS level, round(b, 4) AS trend,
           round(l + b, 4) AS forecast_1d,
           round(l + 7 * b, 4) AS forecast_7d
    FROM st WHERE t = n
    ORDER BY priority
    """,
)
def holt_forecast_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend) of daily
    revenue per priority, with 1-day and 7-day-ahead forecasts — the
    step past EWMA a capacity-planning pipeline takes when the series
    trends.  The recurrence is FLATTENED to one multiply-add chain per
    state (l' = ½y + ½l + ½b; b' = ¼y − ¼l + ¾b — the algebraic
    expansion of the textbook α=β=0.5 form), evaluated in the same
    term order by Spark's ``aggregate`` fold and the oracle's
    recursive CTE, so the whole state trajectory is engine-identical.
    NOT ``list_reduce``: this hunt surfaced that DuckDB's struct
    lambda mutates the accumulator field-by-field (a later field
    reads an earlier field's NEW value), which silently corrupts any
    coupled multi-state recurrence — recursive CTEs keep simultaneous
    semantics.  Init: l₁ = y₁, b₁ = 0 (the b = y₂−y₁ alternative only
    shifts early transient).

    Scale: one (priority, day) rollup shuffle, then per-group series
    arrays of |days| — a year is 365 doubles; for unbounded keys the
    same recursion runs incrementally in
    `streaming/stateful.py`-style state."""
    orders = Catalog(spark, sf_dir).table("orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(dsum(F.col("o_totalprice"), 2).cast("double").alias("y"))
    series = (
        daily.groupBy("priority")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("day"), F.col("y")))
            ).alias("rows")
        )
        .select(
            "priority",
            F.transform(F.col("rows"), lambda r: r["y"]).alias("ys"),
        )
    )
    first = F.element_at(F.col("ys"), 1)
    init = F.struct(first.alias("l"), F.lit(0.0).alias("b"))
    st = F.aggregate(
        F.slice(F.col("ys"), 2, F.greatest(F.size("ys") - 1, F.lit(0))),
        init,
        lambda acc, x: F.struct(
            (
                F.lit(0.5) * x + F.lit(0.5) * acc["l"] + F.lit(0.5) * acc["b"]
            ).alias("l"),
            (
                F.lit(0.25) * x
                - F.lit(0.25) * acc["l"]
                + F.lit(0.75) * acc["b"]
            ).alias("b"),
        ),
    )
    return series.select(
        "priority",
        F.size("ys").cast("long").alias("n_days"),
        F.round(st["l"], 4).alias("level"),
        F.round(st["b"], 4).alias("trend"),
        F.round(st["l"] + st["b"], 4).alias("forecast_1d"),
        F.round(st["l"] + 7 * st["b"], 4).alias("forecast_7d"),
    ).orderBy("priority")


# --- Personalized PageRank over the trade graph -------------------------------
def _ppr_iter_sql(k: int) -> str:
    """One unrolled personalized-PageRank step (mirrors
    operators/graph.py::personalized_pagerank op-for-op)."""
    return f"""
    pc{k} AS (SELECT e.dst AS node,
                     CAST(sum(CAST(p.rank / d.deg AS DECIMAL(38,30)))
                          AS DOUBLE) AS cin
              FROM edges e
              JOIN pr{k - 1} p ON e.src = p.node
              JOIN deg d ON e.src = d.src
              GROUP BY e.dst),
    pr{k} AS (SELECT b.node,
                     round(0.5 * coalesce(pc{k}.cin, 0.0)
                           + CASE WHEN b.is_seed THEN (1 - 0.5) / ns.n
                                  ELSE 0.0 END, 10) AS rank
              FROM base b CROSS JOIN ns
              LEFT JOIN pc{k} ON pc{k}.node = b.node)"""


@register(
    "personalized_pagerank_trade",
    sql=f"""
    WITH {_trade_graph_sql()},
    base AS (SELECT node, node <= 10 AS is_seed FROM nodes),
    ns AS (SELECT count(*) AS n FROM base WHERE is_seed),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    pr0 AS (SELECT node,
                   CASE WHEN is_seed THEN 1.0 / ns.n ELSE 0.0 END AS rank
            FROM base CROSS JOIN ns),
    {_ppr_iter_sql(1)},
    {_ppr_iter_sql(2)},
    {_ppr_iter_sql(3)}
    SELECT node, rank FROM pr3
    ORDER BY rank DESC, node
    LIMIT 30
    """,
)
def personalized_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph.py::personalized_pagerank)
    on the customer↔supplier trade graph, teleporting to the ≤10
    lowest-key customers as the seed set — 'which suppliers and
    customers matter TO THESE accounts', the seed-relative relevance
    behind audience expansion and account-based recommendations
    (global pagerank answers the seedless version).  3 iterations,
    damping 0.5 (exact binary), top-30.  The oracle unrolls every
    step, so the whole seed-biased recurrence sits under the value
    hash.

    Scale: identical join shape to pagerank — one edge shuffle reused
    per iteration, |V|-row rank table, teleport mass a broadcast
    1-row |S| count."""
    from prod_recommendation_pyspark_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = _trade_edges(Catalog(spark, sf_dir))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") <= 10)
    ppr = personalized_pagerank(
        edges, seeds, iterations=3, damping=0.5, round_each=10
    )
    return ppr.orderBy(F.col("rank").desc(), "node").limit(30)


# --- TPC-H Q2 shape: correlated per-group minimum ----------------------------
@register(
    "q2_min_cost_supplier_region",
    sql="""
    WITH eur AS (
        SELECT s_suppkey, s_acctbal, s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'),
    offers AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY 1, 2),
    eo AS (
        SELECT o.l_partkey, o.unit_cost, e.s_acctbal, e.s_name, e.n_name
        FROM offers o JOIN eur e ON o.l_suppkey = e.s_suppkey),
    best AS (
        SELECT l_partkey, min(unit_cost) AS best_cost
        FROM eo GROUP BY 1)
    SELECT e.s_acctbal, e.s_name, e.n_name AS nation,
           p.p_partkey, p.p_brand, e.unit_cost AS cost
    FROM eo e
    JOIN best b ON e.l_partkey = b.l_partkey AND e.unit_cost = b.best_cost
    JOIN part p ON p.p_partkey = e.l_partkey
    ORDER BY e.s_acctbal DESC, e.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 SHAPE: the correlated scalar-min subquery ("supplier
    whose cost equals the part's minimum cost in the region"),
    decorrelated the way Catalyst would — derive the offer table once,
    aggregate the per-part minimum, and join back on equality.  The
    testdata has no partsupp table, so the part-supplier offer
    relation derives from lineitem (min observed unit price per
    (part, supplier)); the double division is the same IEEE operation
    in both engines, and min/equality over identical doubles is exact,
    so no rounding is needed anywhere.

    Scale: nation/region broadcast onto supplier; the offer agg is the
    one fact shuffle (map-side combine on (part,supp)); the per-part
    minimum is a WINDOW over the agg output — a join-back formulation
    (the oracle's) re-derives the whole offer pipeline on the build
    side and scans the fact table twice, which the plan audit showed
    as 2 lineitem scans + a SortMergeJoin; the window form is one
    scan, and its partition (one part's offers) is supplier-bounded."""
    cat = Catalog(spark, sf_dir)
    eur = (
        cat.table("supplier")
        .join(
            F.broadcast(cat.table("nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(cat.table("region").filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    offers = (
        cat.table("lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_cost"
            )
        )
    )
    eo = offers.join(
        F.broadcast(eur), F.col("l_suppkey") == F.col("s_suppkey")
    ).select("l_partkey", "unit_cost", "s_acctbal", "s_name", "n_name")
    best = F.min("unit_cost").over(Window.partitionBy("l_partkey"))
    return (
        eo.withColumn("best_cost", best)
        .filter(F.col("unit_cost") == F.col("best_cost"))
        .join(
            F.broadcast(cat.table("part").select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(
            "s_acctbal",
            "s_name",
            F.col("n_name").alias("nation"),
            "p_partkey",
            "p_brand",
            F.col("unit_cost").alias("cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "s_name", "p_partkey")
        .limit(100)
    )


# --- TPC-H Q9 shape: product-type profit by nation and year ------------------
@register(
    "q9_product_profit_nation_year",
    sql="""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(round(sum(CAST(
               l_extendedprice * (1 - l_discount)
               - l_quantity * p_retailprice * 0.1
               AS DECIMAL(38,6))), 2) AS DOUBLE) AS profit
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit_nation_year(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q9 SHAPE: the five-table profit star — filtered part dim,
    supplier→nation rollup, order-year breakdown.  Cost proxies as 10%
    of retail price (no partsupp supplycost column in the testdata);
    the profit expression is evaluated in double with IDENTICAL
    operation order in both engines, then decimal-accumulated
    (``dsum``) so the sum is partitioning- and engine-exact.

    Scale: part filter broadcasts (LIKE prunes the dim before the
    join); supplier/nation broadcast; the lineitem→orders key join is
    the one big shuffle and AQE handles its skew; year() evaluates
    post-join on the already-reduced rows."""
    cat = Catalog(spark, sf_dir)
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "l_quantity"
    ) * F.col("p_retailprice") * F.lit(0.1)
    return (
        cat.table("lineitem")
        .join(
            cat.table("orders").select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            F.broadcast(
                cat.table("part")
                .filter(F.col("p_name").like("%widget%"))
                .select("p_partkey", "p_retailprice")
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(
            F.broadcast(cat.table("supplier").select("s_suppkey", "s_nationkey")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(
            F.broadcast(cat.table("nation")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(profit, 2).alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# --- TPC-H Q11 shape: value concentration with a scalar-subquery threshold ---
@register(
    "q11_part_value_concentration",
    sql="""
    WITH v AS (
        SELECT l_partkey,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(38,6))), 2) * 100 AS BIGINT)
                   AS value_cents
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY 1),
    t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents,
                 count(*) AS n_parts FROM v)
    SELECT l_partkey, CAST(value_cents AS DOUBLE) / 100 AS part_value
    FROM v CROSS JOIN t
    WHERE value_cents * n_parts > total_cents * 2
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_part_value_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q11 SHAPE: per-part value HAVING a scalar-subquery
    threshold (share of the one-nation total above 2× the average
    part share — RELATIVE, so the predicate keeps selecting at any
    corpus scale where a fixed permille cutoff empties out; observed:
    0.1% matched 238 parts at sf0.01 and zero at sf1).  The compare
    runs in integer CENTS — the decimal sum rounds exactly, scales to
    bigint exactly, and ``value_cents · n_parts > total_cents · 2`` is
    engine-identical integer arithmetic, with no float boundary to
    disagree on.

    Scale: supplier/nation broadcast prunes lineitem to one nation
    BEFORE its only shuffle (the part agg); the grand total is a
    1-row broadcast cross join, not a second pass over the fact."""
    cat = Catalog(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    v = (
        cat.table("lineitem")
        .join(
            F.broadcast(cat.table("supplier").select("s_suppkey", "s_nationkey")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(
            F.broadcast(
                cat.table("nation").filter(F.col("n_name") == "NATION_7")
            ),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .groupBy("l_partkey")
        .agg(
            (F.round(F.sum(rev.cast("decimal(38,6)")), 2) * 100)
            .cast("long")
            .alias("value_cents")
        )
    )
    total = v.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        v.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_cents") * F.col("n_parts")
            > F.col("total_cents") * 2
        )
        .select(
            "l_partkey",
            (F.col("value_cents").cast("double") / 100).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


# --- TPC-H Q16 shape: supplier breadth with a NOT-IN exclusion ---------------
@register(
    "q16_supplier_breadth_by_part_class",
    sql="""
    WITH r AS (
        SELECT l_suppkey, count(*) AS r_cnt
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
    tot AS (
        SELECT CAST(sum(r_cnt) AS BIGINT) AS total_r,
               count(*) AS n_sup FROM r),
    bad AS (
        SELECT l_suppkey FROM r CROSS JOIN tot
        WHERE r_cnt * n_sup * 20 > total_r * 21),
    pairs AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        WHERE l_suppkey NOT IN (SELECT l_suppkey FROM bad))
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM pairs JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 11, 19, 25, 37)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_breadth_by_part_class(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 SHAPE: distinct-supplier breadth per part class with
    a NOT-IN exclusion set.  The excluded "complaint" suppliers (no
    comment column in the testdata) derive from return behavior:
    suppliers whose R-flag lineitem count exceeds 1.05× the supplier
    average — the compare is pure bigint arithmetic (``r_cnt · n_sup
    · 20 > total_r · 21``), exact in both engines.  NOT IN compiles to
    a left-anti join (valid because l_suppkey is non-null; a nullable
    NOT IN would need the null-aware variant).

    Scale: the exclusion set is tiny (supplier-cardinality) and
    broadcast-anti-joined; the distinct (part,supp) projection is the
    one fact shuffle with map-side combine; part is a broadcast dim
    after its brand/size pruning."""
    cat = Catalog(spark, sf_dir)
    # persisted: r feeds both the grand total and the exclusion
    # filter — uncached, the R-filtered lineitem scan+agg runs twice
    # (seen in the plan audit).  Supplier-cardinality rows only;
    # registry-level clearCache owns the lifetime.
    r = (
        cat.table("lineitem")
        .filter(F.col("l_returnflag") == "R")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("r_cnt"))
        .persist()
    )
    tot = r.agg(
        F.sum("r_cnt").alias("total_r"), F.count(F.lit(1)).alias("n_sup")
    )
    bad = (
        r.crossJoin(F.broadcast(tot))
        .filter(
            F.col("r_cnt") * F.col("n_sup") * 20 > F.col("total_r") * 21
        )
        .select("l_suppkey")
    )
    pairs = (
        cat.table("lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
        .distinct()
    )
    return (
        pairs.join(
            F.broadcast(
                cat.table("part").filter(
                    (F.col("p_brand") != "Brand#1")
                    & F.col("p_size").isin(1, 5, 11, 19, 25, 37)
                )
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


# --- TPC-H Q20 shape: semi-join chain with a correlated shipped-qty agg ------
@register(
    "q20_heavy_shippers_of_red_parts",
    sql="""
    WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
    shipped AS (
        SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
        FROM lineitem JOIN red ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1, 2),
    cand AS (SELECT DISTINCT l_suppkey FROM shipped WHERE qty > 50)
    SELECT s_name, n_name AS nation
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM cand)
      AND n_regionkey IN (SELECT r_regionkey FROM region
                          WHERE r_name = 'EUROPE')
    ORDER BY s_name
    """,
)
def q20_heavy_shippers_of_red_parts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 SHAPE: the nested semi-join chain — suppliers having
    (per-part shipped quantity over a year) above a threshold for a
    name-filtered part set, restricted to one region.  The correlated
    quantity subquery decorrelates to filter→join→agg→semi-join; the
    qty sum is exact in double (quantities are small integers, far
    under 2^53), so the > 50 boundary cannot straddle engines.

    Scale: the red-part set broadcasts into lineitem's scan-side
    filter; the (supp, part) agg is the one shuffle; both IN
    predicates become broadcast semi-joins on supplier (dim-sized)."""
    cat = Catalog(spark, sf_dir)
    red = cat.table("part").filter(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    shipped = (
        cat.table("lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(red), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    cand = shipped.filter(F.col("qty") > 50).select("l_suppkey").distinct()
    eur_keys = cat.table("region").filter(F.col("r_name") == "EUROPE").select(
        "r_regionkey"
    )
    return (
        cat.table("supplier")
        .join(
            F.broadcast(cat.table("nation")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .join(
            F.broadcast(eur_keys),
            F.col("n_regionkey") == F.col("r_regionkey"),
            "left_semi",
        )
        .join(
            F.broadcast(cand),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", F.col("n_name").alias("nation"))
        .orderBy("s_name")
    )


# --- PIVOT: segments to columns ------------------------------------------------
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@register(
    "pivot_segment_revenue_by_nation",
    sql="""
    SELECT n.n_name AS nation,
           CAST(round(sum(CASE WHEN c.c_mktsegment = 'AUTOMOBILE'
               THEN CAST(o.o_totalprice AS DECIMAL(38,6)) END), 2) AS DOUBLE)
               AS automobile,
           CAST(round(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
               THEN CAST(o.o_totalprice AS DECIMAL(38,6)) END), 2) AS DOUBLE)
               AS building,
           CAST(round(sum(CASE WHEN c.c_mktsegment = 'FURNITURE'
               THEN CAST(o.o_totalprice AS DECIMAL(38,6)) END), 2) AS DOUBLE)
               AS furniture,
           CAST(round(sum(CASE WHEN c.c_mktsegment = 'HOUSEHOLD'
               THEN CAST(o.o_totalprice AS DECIMAL(38,6)) END), 2) AS DOUBLE)
               AS household,
           CAST(round(sum(CASE WHEN c.c_mktsegment = 'MACHINERY'
               THEN CAST(o.o_totalprice AS DECIMAL(38,6)) END), 2) AS DOUBLE)
               AS machinery
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def pivot_segment_revenue_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PIVOT surface: order revenue by nation with market segments
    rotated into columns — ``groupBy().pivot(col, values).agg()``
    with the value list EXPLICIT, which is the 100 TB contract: an
    unlisted pivot forces a blocking distinct-scan of the pivot
    column before planning, a listed one is a single pass compiled
    to conditional aggregates (exactly the oracle's sum-of-CASE
    form).  Decimal-accumulated sums, decimal-space rounding.

    Scale: customer/nation broadcast onto orders; ONE fact shuffle on
    the group key; 5 conditional aggregates per row in one
    WholeStageCodegen span."""
    cat = Catalog(spark, sf_dir)
    joined = (
        cat.table("orders")
        .join(
            F.broadcast(
                cat.table("customer").select(
                    "c_custkey", "c_nationkey", "c_mktsegment"
                )
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(cat.table("nation")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
    )
    out = (
        joined.groupBy(F.col("n_name").alias("nation"))
        .pivot("c_mktsegment", _SEGMENTS)
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2
            ).cast("double")
        )
    )
    return out.select(
        "nation", *[F.col(s).alias(s.lower()) for s in _SEGMENTS]
    ).orderBy("nation")


# --- ROLLUP lattice with grouping flags ----------------------------------------
@register(
    "rollup_revenue_region_nation",
    sql="""
    SELECT coalesce(r.r_name, 'ALL')  AS region,
           coalesce(n.n_name, 'ALL')  AS nation,
           CAST(GROUPING(r.r_name) AS INTEGER) AS is_region_total,
           CAST(GROUPING(n.n_name) AS INTEGER) AS is_nation_total,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(38,6))), 2)
                AS DOUBLE) AS revenue,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    ORDER BY is_region_total, is_nation_total, region, nation
    """,
)
def rollup_revenue_region_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROLLUP lattice (region → nation → grand total) with explicit
    GROUPING flags — the drill-down report shape GROUPING SETS
    queries hand-enumerate, here as the native hierarchy operator.
    Both engines compute the same lattice in ONE aggregation pass
    (Spark expands rollup to grouping sets with partial aggregation
    below the shuffle); the grouping flags are emitted per-column
    (engine-portable) rather than as the packed grouping_id bitmask,
    whose bit order is an engine implementation detail.

    Scale: dims broadcast; one fact shuffle keyed on the expanded
    grouping-set id + keys; lattice depth multiplies rows only at
    aggregate granularity, never fact granularity."""
    cat = Catalog(spark, sf_dir)
    joined = (
        cat.table("orders")
        .join(
            F.broadcast(
                cat.table("customer").select("c_custkey", "c_nationkey")
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(cat.table("nation")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .join(
            F.broadcast(cat.table("region")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
    )
    out = joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").alias("is_region_total"),
        F.grouping("n_name").alias("is_nation_total"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2)
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return out.select(
        F.coalesce("r_name", F.lit("ALL")).alias("region"),
        F.coalesce("n_name", F.lit("ALL")).alias("nation"),
        F.col("is_region_total").cast("int").alias("is_region_total"),
        F.col("is_nation_total").cast("int").alias("is_nation_total"),
        "revenue",
        "n_orders",
    ).orderBy("is_region_total", "is_nation_total", "region", "nation")
