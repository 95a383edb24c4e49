"""Relational-surface query suite (SURVEY §2.2).

The reference inherits its whole relational surface from the embedded
DataFusion engine (Cargo.toml:17; only projection+UDF is exercised by its
tests, tests/factory.rs:39). We inherit the same surface from Spark SQL /
Catalyst, and verify each delegated operator category with one
oracle-checked query over the driver testdata.

Design rules for 100 TB survivability:

- Declarative DataFrame/SQL only — Catalyst gets full freedom (pushdown,
  pruning, join selection, partial aggregation).
- Small dimensions (region/nation/supplier/part at these ratios) are
  explicitly ``broadcast()`` where Catalyst's size estimate might not see
  it (e.g. after filters).
- Every aggregate/computed column is aliased identically in the Spark
  plan and the DuckDB oracle (driver compares by column name).
- Double aggregates are ROUNDed (2-4 decimals) in both engines: partial
  aggregation order differs, IEEE error ~1e-9 relative, far below the
  rounding grain.
- Timestamps cross the Spark/DuckDB boundary as epoch microseconds
  (``unix_micros`` / ``epoch_us``) — exact integers, no tz or rounding
  ambiguity.
- LIMIT/top-k queries carry a full deterministic tiebreak ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from adhesive_spark.sources.registry import load_table
from adhesive_spark.sources.registry import materialize


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _us(col) -> F.Column:
    """Epoch microseconds of a timestamp column — the canonical
    cross-engine representation (matches DuckDB ``epoch_us``). The table
    timestamps read as TIMESTAMP_NTZ; with the session fixed to UTC the
    cast to TIMESTAMP is instant-preserving."""
    if isinstance(col, str):
        col = F.col(col)
    return F.unix_micros(col.cast("timestamp"))


# --- scans / projection / filter -------------------------------------------

def q02_filter_project(spark, sf_dir):
    """Filter + projection — both must reach the parquet scan
    (PushedFilters / pruned ReadSchema in .explain)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
            & (F.col("l_quantity") >= 45)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_quantity", 1).alias("qty"),
            _us("l_shipdate").alias("ship_us"),
        )
    )


# --- aggregation -------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1 analog: the flagship hash aggregate (partial+final)."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 1).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 1).alias("sum_base_price"),
            F.round(F.sum(disc), 1).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 1).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q06_revenue_forecast(spark, sf_dir):
    """Selective filter + global agg (TPC-H Q6 analog) — single row."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 1).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


def q15_distinct_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count("*").alias("n_rows"),
    )


# --- joins -------------------------------------------------------------------

def q07_broadcast_dims(spark, sf_dir):
    """Star join with explicitly broadcast dimensions — at 100 TB the fact
    side never shuffles for this plan (BroadcastHashJoin)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_cust"),
            # floor-based rounding: ROUND on a double AVG disagrees
            # between engines when the mean lands on a half boundary
            # (seen at sf0.001: 4201.315 → .32 vs .31)
            (F.floor(F.avg("c_acctbal") * 100) / 100.0).alias("avg_bal"),
        )
    )


def q03_top_unshipped_orders(spark, sf_dir):
    """3-way join + agg + deterministic top-k (TPC-H Q3 analog)."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1998-01-01")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 1
            ).alias("revenue"),
            _us(F.min("o_orderdate")).alias("orderdate_us"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q05_regional_revenue(spark, sf_dir):
    """6-way join with broadcast dims (TPC-H Q5 analog)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .where(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 1
            ).alias("revenue")
        )
    )


def q04_semi_join(spark, sf_dir):
    """EXISTS → left-semi join (TPC-H Q4 analog)."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 48)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q08_anti_join(spark, sf_dir):
    """NOT EXISTS → left-anti join: customers with no 2001 orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") >= "2001-01-01")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
    )


def q09_theta_join(spark, sf_dir):
    """Equi + theta (non-equi residual) join condition."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(
            F.broadcast(p),
            (li.l_partkey == p.p_partkey)
            & (li.l_extendedprice > p.p_retailprice * 30),
        )
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 1).alias("price_sum"),
        )
    )


def q19_scalar_subquery(spark, sf_dir):
    """Scalar subquery in predicate (delegated to Catalyst)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n_above,
               ROUND(AVG(o_totalprice), 2) AS avg_above
        FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        GROUP BY o_orderstatus
        """
    )


# --- windows -----------------------------------------------------------------

def q10_window_rank(spark, sf_dir):
    """Ranking window: top-3 orders per customer."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            "rn",
            F.round("o_totalprice", 2).alias("price"),
        )
    )


def q11_window_running(spark, sf_dir):
    """Analytic window: running aggregates + lag over event time."""
    e = _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    order = [F.col("ts"), F.col("event_id")]
    w = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wlag = Window.partitionBy("user_id").orderBy(*order)
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("running_cnt"),
        F.round(F.sum("value").over(w), 2).alias("running_sum"),
        F.round(F.col("value") - F.lag("value").over(wlag), 2).alias("delta"),
    )


# --- grouping sets / rollup / cube ------------------------------------------

def q12_rollup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 1).alias("price_sum"),
    )


def q13_cube(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 1).alias("qty_sum"),
    )


def q14_grouping_sets(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --- set operations ----------------------------------------------------------

def q16_set_ops(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    big = o.where(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )
    negbal = c.where(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("custkey")
    )
    fstatus = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return building.intersect(big).union(negbal.exceptAll(fstatus).distinct()).distinct()


# --- sorts / limits ----------------------------------------------------------

def q20_topk(spark, sf_dir):
    """Top-k: Catalyst compiles orderBy+limit to TakeOrderedAndProject —
    no global sort at scale."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
        )
        .limit(20)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
            F.round("l_quantity", 1).alias("qty"),
        )
    )


# --- scalar function library -------------------------------------------------

def q17_scalar_functions(spark, sf_dir):
    """String/math scalar function sample (delegated library)."""
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 37 == 0)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.substring("p_type", 1, 6).alias("type6"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("price_infl"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        (F.col("p_size") % 7).alias("size_mod"),
    )


def q18_datetime_json(spark, sf_dir):
    """Date/time + JSON extraction sample."""
    e = _t(spark, sf_dir, "events").where(F.col("event_id") % 101 == 0)
    return e.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        _us(F.date_trunc("hour", F.col("ts"))).alias("hour_us"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


def q21_case_expr(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    bucket = (
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 30, "medium")
        .otherwise("large")
    )
    return (
        li.groupBy(bucket.alias("qty_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        )
    )


# --- time-bucketed aggregation ----------------------------------------------

def q22_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour windows over event time (batch analog of the
    streaming window operator; same F.window is used in streaming)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            _us(F.col("w.start")).alias("bucket_us"),
            "event_type",
            "n",
            "value_sum",
        )
    )




# --- TPC-H hard shapes (decorrelation stress) --------------------------------

def q77_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: per-part correlated aggregate subquery
    (quantity below 20% of the part's own average). Catalyst must
    decorrelate into an aggregate + join — never a per-row re-scan. The
    0.2·avg threshold is computed from exact scaled-integer sums, so the
    comparison operand is a single deterministic division in both
    engines (no order-dependent AVG at the boundary)."""
    for t in ("lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT p.p_brand,
               COUNT(*) AS n_small,
               SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
                 AS small_rev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_size < 10
          AND l.l_quantity <
              (SELECT 2 * SUM(CAST(ROUND(l2.l_quantity * 10, 0) AS BIGINT))
                      / CAST(100 * COUNT(*) AS DOUBLE)
               FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p.p_brand
        """
    )


def q78_large_volume_orders(spark, sf_dir):
    """TPC-H Q18 shape: IN over a grouped HAVING subquery (orders whose
    total quantity clears a threshold) re-joined to the same fact —
    Catalyst plans the IN as a semi-join against the aggregate.
    Quantities aggregate as exact scaled integers so the HAVING
    threshold can't flip with summation order."""
    for t in ("customer", "orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
               SUM(CAST(ROUND(l.l_quantity * 10, 0) AS BIGINT)) / CAST(10 AS DOUBLE)
                 AS sum_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(ROUND(l_quantity * 10, 0) AS BIGINT)) > 1500)
        GROUP BY c.c_custkey, o.o_orderkey, o.o_totalprice
        """
    )


def q79_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: EXISTS + correlated NOT EXISTS over the same
    fact (the only supplier who shipped late on a finished multi-
    supplier order). Both subqueries decorrelate to semi/anti joins on
    l_orderkey; 'late' is shipdate more than 60 days after the order
    date — pure timestamp arithmetic, engine-exact."""
    for t in ("supplier", "orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT s.s_name, COUNT(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate >
                                o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY s.s_name
        """
    )


RELATIONAL_QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_filter_project": q02_filter_project,
    "q03_top_unshipped_orders": q03_top_unshipped_orders,
    "q04_semi_join": q04_semi_join,
    "q05_regional_revenue": q05_regional_revenue,
    "q06_revenue_forecast": q06_revenue_forecast,
    "q07_broadcast_dims": q07_broadcast_dims,
    "q08_anti_join": q08_anti_join,
    "q09_theta_join": q09_theta_join,
    "q10_window_rank": q10_window_rank,
    "q11_window_running": q11_window_running,
    "q12_rollup": q12_rollup,
    "q13_cube": q13_cube,
    "q14_grouping_sets": q14_grouping_sets,
    "q15_distinct_agg": q15_distinct_agg,
    "q16_set_ops": q16_set_ops,
    "q17_scalar_functions": q17_scalar_functions,
    "q18_datetime_json": q18_datetime_json,
    "q19_scalar_subquery": q19_scalar_subquery,
    "q20_topk": q20_topk,
    "q21_case_expr": q21_case_expr,
    "q22_tumbling_window": q22_tumbling_window,
    "q77_small_qty_revenue": q77_small_qty_revenue,
    "q78_large_volume_orders": q78_large_volume_orders,
    "q79_waiting_suppliers": q79_waiting_suppliers,
}


RELATIONAL_ORACLES = {
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 1) AS sum_qty,
               ROUND(SUM(l_extendedprice), 1) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 1) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 1) AS sum_charge,
               ROUND(AVG(l_quantity), 2) AS avg_qty,
               ROUND(AVG(l_extendedprice), 2) AS avg_price,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q02_filter_project": """
        SELECT l_orderkey, l_linenumber,
               ROUND(l_quantity, 1) AS qty,
               epoch_us(l_shipdate) AS ship_us
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
          AND l_quantity >= 45
    """,
    "q03_top_unshipped_orders": """
        SELECT l_orderkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 1) AS revenue,
               epoch_us(MIN(o_orderdate)) AS orderdate_us
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q04_semi_join": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-07-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_quantity > 48
          )
        GROUP BY o_orderpriority
    """,
    "q05_regional_revenue": """
        SELECT n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 1) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND c_nationkey = s_nationkey
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "q06_revenue_forecast": """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 1) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q07_broadcast_dims": """
        SELECT r_name, n_name, COUNT(*) AS n_cust,
               floor(AVG(c_acctbal) * 100) / 100 AS avg_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "q08_anti_join": """
        SELECT c_mktsegment, COUNT(*) AS n_cust,
               ROUND(SUM(c_acctbal), 2) AS bal_sum
        FROM customer
        WHERE NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01'
        )
        GROUP BY c_mktsegment
    """,
    "q09_theta_join": """
        SELECT p_brand, COUNT(*) AS n_items,
               ROUND(SUM(l_extendedprice), 1) AS price_sum
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
                 AND l_extendedprice > p_retailprice * 30
        GROUP BY p_brand
    """,
    "q10_window_rank": """
        SELECT o_custkey, o_orderkey, rn, price FROM (
          SELECT o_custkey, o_orderkey,
                 ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn,
                 ROUND(o_totalprice, 2) AS price
          FROM orders
        ) WHERE rn <= 3
    """,
    "q11_window_running": """
        SELECT event_id, user_id,
               COUNT(*) OVER w_run AS running_cnt,
               ROUND(SUM(value) OVER w_run, 2) AS running_sum,
               ROUND(value - LAG(value) OVER w_ord, 2) AS delta
        FROM events
        WHERE user_id < 20
        WINDOW
          w_run AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_ord AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "q12_rollup": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 1) AS price_sum
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "q13_cube": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               ROUND(SUM(l_quantity), 1) AS qty_sum
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "q14_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "q15_distinct_agg": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT l_partkey) AS n_part,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "q16_set_ops": """
        SELECT DISTINCT custkey FROM (
          SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          INTERSECT
          SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
          UNION
          SELECT DISTINCT custkey FROM (
            SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
            EXCEPT ALL
            SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
          )
        )
    """,
    "q17_scalar_functions": """
        SELECT p_partkey,
               UPPER(p_name) AS uname,
               SUBSTRING(p_type, 1, 6) AS type6,
               LENGTH(p_name) AS name_len,
               CONCAT_WS('#', p_brand, p_type) AS brand_type,
               ROUND(p_retailprice * 1.1, 2) AS price_infl,
               ABS(p_size - 25) AS size_dist,
               p_size % 7 AS size_mod
        FROM part WHERE p_partkey % 37 = 0
    """,
    "q18_datetime_json": """
        SELECT event_id,
               YEAR(ts) AS y, MONTH(ts) AS m, DAY(ts) AS d, HOUR(ts) AS h,
               epoch_us(date_trunc('hour', ts)) AS hour_us,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
        FROM events WHERE event_id % 101 = 0
    """,
    "q19_scalar_subquery": """
        SELECT o_orderstatus,
               COUNT(*) AS n_above,
               ROUND(AVG(o_totalprice), 2) AS avg_above
        FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        GROUP BY o_orderstatus
    """,
    "q20_topk": """
        SELECT l_orderkey, l_linenumber,
               ROUND(l_extendedprice, 2) AS price,
               ROUND(l_quantity, 1) AS qty
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        LIMIT 20
    """,
    "q21_case_expr": """
        SELECT CASE WHEN l_quantity < 10 THEN 'small'
                    WHEN l_quantity < 30 THEN 'medium'
                    ELSE 'large' END AS qty_bucket,
               COUNT(*) AS n,
               ROUND(AVG(l_extendedprice), 2) AS avg_price
        FROM lineitem
        GROUP BY 1
    """,
    "q22_tumbling_window": """
        SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS bucket_us,
               event_type, COUNT(*) AS n,
               ROUND(SUM(value), 2) AS value_sum
        FROM events
        GROUP BY 1, 2
    """,
}

RELATIONAL_ORACLES["q77_small_qty_revenue"] = """
    SELECT p.p_brand,
           COUNT(*) AS n_small,
           SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) / CAST(100 AS DOUBLE)
             AS small_rev
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size < 10
      AND l.l_quantity <
          (SELECT 2 * SUM(CAST(ROUND(l2.l_quantity * 10, 0) AS BIGINT))
                  / CAST(100 * COUNT(*) AS DOUBLE)
           FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p.p_brand
"""

RELATIONAL_ORACLES["q78_large_volume_orders"] = """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
           SUM(CAST(ROUND(l.l_quantity * 10, 0) AS BIGINT)) / CAST(10 AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(ROUND(l_quantity * 10, 0) AS BIGINT)) > 1500)
    GROUP BY c.c_custkey, o.o_orderkey, o.o_totalprice
"""

RELATIONAL_ORACLES["q79_waiting_suppliers"] = """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
"""


def q94_volume_shipping(spark, sf_dir):
    """TPC-H Q7 analog: bilateral shipping volume between two nations by
    ship year. Six-way join — dims broadcast, the fact tables joined on
    their keys; revenue quantized to 1e-4 units per row so the sums are
    exact integers in any engine/order."""
    from adhesive_spark.operators.text import scaled_long

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    vol = scaled_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nkey"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            vol.alias("v"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((F.sum("v") / F.lit(10000.0)).alias("revenue"))
    )


def q95_market_share(spark, sf_dir):
    """TPC-H Q8 analog: NATION_3's share of STANDARD-part revenue inside
    region ASIA by order year — a ratio of two exact quantized sums."""
    from adhesive_spark.operators.text import fround, scaled_long

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cn = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol = scaled_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("s_nkey"))
    )
    g = (
        j.select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("v"),
            F.when(F.col("supp_nation") == "NATION_3", 1).otherwise(0).alias("is_n3"),
        )
        .groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("is_n3") == 1, F.col("v")).otherwise(0)).alias(
                "n3_c"
            ),
            F.sum("v").alias("all_c"),
        )
    )
    return g.select(
        "o_year",
        fround(F.col("n3_c") / F.greatest(F.col("all_c"), F.lit(1)), 4).alias(
            "mkt_share"
        ),
        (F.col("all_c") / F.lit(10000.0)).alias("total_volume"),
    )


def q96_returned_items(spark, sf_dir):
    """TPC-H Q10 analog: top-20 customers by revenue lost to returns in
    one quarter. Exact quantized revenue + id tie-break makes the LIMIT
    boundary deterministic; TakeOrdered top-k, no global sort."""
    from adhesive_spark.operators.text import scaled_long

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = scaled_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
    )
    g = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", "c_acctbal", "n_name", rev.alias("r"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum("r").alias("rev_c"))
    )
    return (
        g.orderBy(F.col("rev_c").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            (F.col("rev_c") / F.lit(10000.0)).alias("revenue"),
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
    )


def q97_promo_revenue(spark, sf_dir):
    """TPC-H Q14 analog: PROMO parts' share of revenue per ship year —
    conditional aggregation over one join, exact quantized numerator and
    denominator."""
    from adhesive_spark.operators.text import fround, scaled_long

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = scaled_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
    )
    g = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.year("l_shipdate").alias("l_year"),
            rev.alias("r"),
            F.when(F.col("p_type") == "PROMO", 1).otherwise(0).alias("is_promo"),
        )
        .groupBy("l_year")
        .agg(
            F.sum(F.when(F.col("is_promo") == 1, F.col("r")).otherwise(0)).alias(
                "promo_c"
            ),
            F.sum("r").alias("all_c"),
        )
    )
    return g.select(
        "l_year",
        fround(
            F.lit(100.0) * F.col("promo_c") / F.greatest(F.col("all_c"), F.lit(1)),
            4,
        ).alias("promo_pct"),
        (F.col("all_c") / F.lit(10000.0)).alias("total_revenue"),
    )

_V4 = "CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)"

RELATIONAL_ORACLES["q94_volume_shipping"] = f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           SUM({_V4}) / 10000.0 AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
"""

RELATIONAL_ORACLES["q95_market_share"] = f"""
    WITH g AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(CASE WHEN ns.n_name = 'NATION_3' THEN {_V4} ELSE 0 END)
                  AS BIGINT) AS n3_c,
             CAST(SUM({_V4}) AS BIGINT) AS all_c
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'STANDARD'
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region r ON nc.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      GROUP BY 1
    )
    SELECT o_year,
           floor(n3_c * 1.0 / greatest(all_c, 1) * 10000) / 10000 AS mkt_share,
           all_c / 10000.0 AS total_volume
    FROM g
"""

RELATIONAL_ORACLES["q96_returned_items"] = f"""
    SELECT c_custkey, c_name, rev_c / 10000.0 AS revenue,
           ROUND(c_acctbal, 2) AS c_acctbal, n_name
    FROM (
      SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
             CAST(SUM({_V4}) AS BIGINT) AS rev_c
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1996-04-01'
      GROUP BY 1, 2, 3, 4
    )
    ORDER BY rev_c DESC, c_custkey LIMIT 20
"""

RELATIONAL_ORACLES["q97_promo_revenue"] = f"""
    WITH g AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_V4} ELSE 0 END)
                  AS BIGINT) AS promo_c,
             CAST(SUM({_V4}) AS BIGINT) AS all_c
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    )
    SELECT l_year,
           floor(100.0 * promo_c / greatest(all_c, 1) * 10000) / 10000 AS promo_pct,
           all_c / 10000.0 AS total_revenue
    FROM g
"""

RELATIONAL_QUERIES["q94_volume_shipping"] = q94_volume_shipping
RELATIONAL_QUERIES["q95_market_share"] = q95_market_share
RELATIONAL_QUERIES["q96_returned_items"] = q96_returned_items
RELATIONAL_QUERIES["q97_promo_revenue"] = q97_promo_revenue


def q107_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each SMALL-type part, the EUROPE supplier(s)
    whose unit price equals the part's minimum among EUROPE suppliers —
    a correlated scalar MIN subquery over an aggregate that itself
    filters through a dim chain (supplier→nation→region).  Catalyst must
    decorrelate the per-part MIN into an aggregate + join; the unit
    price is rounded to exact cents per row (single IEEE divide + the
    shared half-up rounding) so the MIN comparison is integer-exact."""
    for t in ("lineitem", "part", "supplier", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        WITH cost AS (
          SELECT l.l_partkey, l.l_suppkey,
                 MIN(CAST(ROUND(l.l_extendedprice / l.l_quantity * 100, 0)
                          AS BIGINT)) AS unit_cents
          FROM lineitem l
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey
          JOIN region r ON r.r_regionkey = n.n_regionkey
          WHERE r.r_name = 'EUROPE'
          GROUP BY l.l_partkey, l.l_suppkey
        )
        SELECT p.p_partkey, p.p_name, s.s_name, c.unit_cents
        FROM part p
        JOIN cost c ON c.l_partkey = p.p_partkey
        JOIN supplier s ON s.s_suppkey = c.l_suppkey
        WHERE p.p_type = 'SMALL'
          AND c.unit_cents = (SELECT MIN(c2.unit_cents) FROM cost c2
                              WHERE c2.l_partkey = p.p_partkey)
        """
    )


def q108_excess_share_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers holding an outsized share of any red
    part's flow — nested IN over a name-filtered part list plus a
    correlated aggregate threshold (supplier's shipped quantity of the
    part > 20% of the part's TOTAL shipped quantity).  Quantities sum as
    exact scaled integers; the 20% comparison multiplies through so both
    operands stay BIGINT (no float threshold at the boundary)."""
    for t in ("lineitem", "part", "supplier", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        WITH flow AS (
          SELECT l_partkey, l_suppkey,
                 SUM(CAST(ROUND(l_quantity * 10, 0) AS BIGINT)) AS qty10
          FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE 'red%')
          GROUP BY l_partkey, l_suppkey
        )
        SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE s.s_suppkey IN (
          SELECT f.l_suppkey FROM flow f
          WHERE f.qty10 * 5 > (SELECT SUM(f2.qty10) FROM flow f2
                               WHERE f2.l_partkey = f.l_partkey)
        )
        """
    )


RELATIONAL_QUERIES["q107_min_cost_supplier"] = q107_min_cost_supplier
RELATIONAL_QUERIES["q108_excess_share_suppliers"] = q108_excess_share_suppliers

RELATIONAL_ORACLES["q107_min_cost_supplier"] = """
    WITH cost AS (
      SELECT l.l_partkey, l.l_suppkey,
             MIN(CAST(ROUND(l.l_extendedprice / l.l_quantity * 100, 0)
                      AS BIGINT)) AS unit_cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY l.l_partkey, l.l_suppkey
    )
    SELECT p.p_partkey, p.p_name, s.s_name, c.unit_cents
    FROM part p
    JOIN cost c ON c.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    WHERE p.p_type = 'SMALL'
      AND c.unit_cents = (SELECT MIN(c2.unit_cents) FROM cost c2
                          WHERE c2.l_partkey = p.p_partkey)
"""

RELATIONAL_ORACLES["q108_excess_share_suppliers"] = """
    WITH flow AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(ROUND(l_quantity * 10, 0) AS BIGINT)) AS BIGINT)
               AS qty10
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE 'red%')
      GROUP BY l_partkey, l_suppkey
    )
    SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
      SELECT f.l_suppkey FROM flow f
      WHERE f.qty10 * 5 > (SELECT CAST(SUM(f2.qty10) AS BIGINT) FROM flow f2
                           WHERE f2.l_partkey = f.l_partkey)
    )
"""


def q112_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: per phone-country-code count and balance of
    RICH, CHURNED customers — acctbal above the average positive
    balance (uncorrelated scalar subquery → broadcast one-row join) and
    no orders since 2001-01-01 (anti join against the date-filtered
    orders scan; this data has no order-less customers, so recency
    stands in for Q22's "no orders").  The two classic decorrelation
    primitives in one query; balances sum as exact cents (scaled_long)
    with one divide at output.

    Scale shape: the scalar average is a map-side partial agg to a
    1-row broadcast; the anti join shuffles on o_custkey/c_custkey — at
    100 TB the orders side is the big one and AQE picks SMJ vs BHJ from
    the filtered customer cardinality."""
    from adhesive_spark.operators.text import scaled_long

    # TPC-H proper keys on phone-prefix country codes; this testdata
    # vintage has no c_phone, so the nation key plays the country code
    codes = (13, 31, 23, 29, 30, 18, 17)
    cust = (
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.col("c_nationkey").alias("cc"),
            scaled_long(F.col("c_acctbal"), 2).alias("bal_c"),
        )
        .where(F.col("cc").isin(*codes))
    )
    avg_bal = cust.where(F.col("bal_c") > 0).agg(F.avg("bal_c").alias("ab"))
    rich = cust.join(F.broadcast(avg_bal)).where(F.col("bal_c") > F.col("ab"))
    inactive = rich.join(
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2001-01-01").cast("date"))
        .select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
        "left_anti",
    )
    return inactive.groupBy("cc").agg(
        F.count("*").alias("numcust"),
        (F.sum("bal_c") / F.lit(100.0)).alias("totacctbal"),
    )


RELATIONAL_QUERIES["q112_global_sales_opportunity"] = q112_global_sales_opportunity

RELATIONAL_ORACLES["q112_global_sales_opportunity"] = """
    WITH cust AS (
      SELECT c_custkey, c_nationkey AS cc,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_c
      FROM customer
      WHERE c_nationkey IN (13, 31, 23, 29, 30, 18, 17)
    ),
    ab AS (SELECT AVG(bal_c) AS ab FROM cust WHERE bal_c > 0)
    SELECT cc, COUNT(*) AS numcust, SUM(bal_c) / 100.0 AS totacctbal
    FROM cust, ab
    WHERE bal_c > ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = cust.c_custkey
                        AND o.o_orderdate >= DATE '2001-01-01')
    GROUP BY cc
"""


def q117_late_shipment_check(spark, sf_dir):
    """TPC-H Q4 shape: per-priority count of orders that had at least
    one LATE line (shipped > 90 days after the order date; this schema
    has no commit/receipt dates, so ship-lag plays Q4's late-delivery
    predicate).  The EXISTS decorrelates to a left-semi hash join on
    the order key with the date window pushed to both scans."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


def q118_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: the distribution of customers by how many
    orders they placed, INCLUDING the zero bucket — the left outer
    join + two-level aggregate that exercises null-preserving
    aggregation (count of a null-producing side) and the tiny final
    rollup."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


def q119_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) whose revenue in a 3-month
    window equals the GLOBAL maximum — aggregate once, take the max as
    an uncorrelated scalar (1-row broadcast), join back on exact
    cents so ties surface instead of being argmax'd away."""
    from adhesive_spark.operators.text import scaled_long

    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            scaled_long(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
        ).alias("rev_c")
    )
    top = rev.agg(F.max("rev_c").alias("max_c"))
    return (
        rev.join(F.broadcast(top))
        .where(F.col("rev_c") == F.col("max_c"))
        .join(
            _t(spark, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_c") / F.lit(100.0)).alias("total_revenue"),
        )
    )


def q120_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under an OR of three (brand,
    size-range, quantity-range) conjunctions — the disjunctive-
    predicate pushdown case: Catalyst must push the whole OR below the
    join and prune part columns, and the join stays a plain equi hash
    join with the residual OR evaluated post-probe."""
    from adhesive_spark.operators.text import scaled_long

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 35))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    return j.where(cond).agg(
        F.count("*").alias("n_lines"),
        (
            F.sum(
                scaled_long(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
                )
            )
            / F.lit(100.0)
        ).alias("revenue"),
    )


def q121_nation_profit(spark, sf_dir):
    """TPC-H Q9 shape: yearly profit per supplier nation for blue
    parts — the 5-table star (two fact-scale inputs) grouped by
    (nation, year).  No partsupp table in this schema, so cost is the
    Q9-style formula re-based on the part's retail price (8% of
    retailprice per unit); the exact-cents contract holds through the
    revenue−cost subtraction because both terms quantize per row."""
    from adhesive_spark.operators.text import scaled_long

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        F.split(F.col("p_name"), " ").getItem(0) == "blue"
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount_c = scaled_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
    ) - scaled_long(
        F.col("p_retailprice") * F.lit(0.08) * F.col("l_quantity"), 2
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg((F.sum(amount_c) / F.lit(100.0)).alias("sum_profit"))
    )


RELATIONAL_QUERIES["q117_late_shipment_check"] = q117_late_shipment_check
RELATIONAL_QUERIES["q118_customer_distribution"] = q118_customer_distribution
RELATIONAL_QUERIES["q119_top_supplier"] = q119_top_supplier
RELATIONAL_QUERIES["q120_discounted_revenue"] = q120_discounted_revenue
RELATIONAL_QUERIES["q121_nation_profit"] = q121_nation_profit

RELATIONAL_ORACLES["q117_late_shipment_check"] = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
"""

RELATIONAL_ORACLES["q118_customer_distribution"] = """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ) GROUP BY c_count
"""

RELATIONAL_ORACLES["q119_top_supplier"] = """
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                      AS BIGINT)) AS rev_c
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.rev_c / 100.0 AS total_revenue
    FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.rev_c = (SELECT MAX(rev_c) FROM rev)
"""

RELATIONAL_ORACLES["q120_discounted_revenue"] = """
    SELECT COUNT(*) AS n_lines,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                    AS BIGINT)) / 100.0 AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
"""

RELATIONAL_ORACLES["q121_nation_profit"] = """
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                    AS BIGINT)
               - CAST(ROUND(p.p_retailprice * 0.08 * l.l_quantity * 100, 0)
                      AS BIGINT)) / 100.0 AS sum_profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE split_part(p.p_name, ' ', 1) = 'blue'
    GROUP BY 1, 2
"""


def q125_lateral_topk(spark, sf_dir):
    """LATERAL correlated subquery with LIMIT — "each customer's top-2
    orders by value" written the way an analyst writes it.  Catalyst
    decorrelates the per-row ORDER BY…LIMIT into a rank window with
    WindowGroupLimit (map-side partial top-k per key, asserted in
    tests/test_plans.py) joined broadcast against the filtered outer —
    i.e. the hand-optimized q20-style plan, derived automatically from
    the naive correlated form."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey < 200
        """
    )


RELATIONAL_QUERIES["q125_lateral_topk"] = q125_lateral_topk

RELATIONAL_ORACLES["q125_lateral_topk"] = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c.c_custkey < 200
"""


def q137_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: per-group value HAVING > a global-scalar
    threshold — "parts carrying at least 1.5x the mean inventory
    value".  The global total/count is a one-row broadcast against the
    per-part aggregate (never a shuffle), and the HAVING predicate is
    integer cross-multiplied (value·n·2 > total·3) so no division ever
    enters the comparison: engine-exact at every scale factor, unlike
    Q11's literal FRACTION which empties as SF grows.  Money is
    cents-quantized per row BEFORE the sum (scaled_long) — the
    verify-skill ROUND(SUM(double)) hazard."""
    from adhesive_spark.operators.text import scaled_long

    li = _t(spark, sf_dir, "lineitem")
    val = li.groupBy("l_partkey").agg(
        F.sum(
            scaled_long(F.col("l_extendedprice"), 2)
            * F.col("l_quantity").cast("long")
        ).alias("value_c")
    )
    total = val.agg(
        F.sum("value_c").alias("total_c"), F.count("*").alias("n_parts")
    )
    return (
        val.join(F.broadcast(total))
        .where(
            F.col("value_c") * F.col("n_parts") * 2 > F.col("total_c") * 3
        )
        .select("l_partkey", "value_c")
    )


RELATIONAL_QUERIES["q137_important_parts"] = q137_important_parts

RELATIONAL_ORACLES["q137_important_parts"] = """
    WITH v AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS value_c
      FROM lineitem GROUP BY l_partkey
    ),
    t AS (
      SELECT CAST(SUM(value_c) AS BIGINT) AS total_c,
             COUNT(*) AS n_parts
      FROM v
    )
    SELECT l_partkey, value_c
    FROM v, t
    WHERE value_c * n_parts * 2 > total_c * 3
"""


def q138_priority_shipping(spark, sf_dir):
    """TPC-H Q12 shape: two-class CASE counts after an orders⋈lineitem
    join under a one-year shipdate window — high-priority
    (URGENT/HIGH) vs low-priority line counts per return flag (the
    shipmode column does not exist in this vintage; returnflag carries
    the same 3-value role).  The date filter pushes to the lineitem
    scan; the join is a plain equi hash join; counts are integers."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count_if(hi).alias("high_line_count"),
            F.count_if(~hi).alias("low_line_count"),
        )
    )


RELATIONAL_QUERIES["q138_priority_shipping"] = q138_priority_shipping

RELATIONAL_ORACLES["q138_priority_shipping"] = """
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
             AS high_line_count,
           COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
             AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
"""


def q139_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    group, EXCLUDING an anti-joined supplier denylist (negative
    account balance stands in for Q16's complaint-comment suppliers —
    NOT IN over a subquery becomes a broadcast left-anti join).  The
    attribute filters (brand <>, bounded size) prune the broadcast
    part dim; the countDistinct is the only shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#9") & (F.col("p_size") < 10)
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0)
    return (
        li.join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


RELATIONAL_QUERIES["q139_supplier_part_counts"] = q139_supplier_part_counts

RELATIONAL_ORACLES["q139_supplier_part_counts"] = """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#9' AND p_size < 10
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
"""


def q170_ship_latency(spark, sf_dir):
    """Order-to-ship latency SLO bands per order priority: exact
    nearest-rank p50/p90 of (first ship date − order date) in days —
    the fulfilment-ops panel, built with the same integer
    ROW_NUMBER percentile machinery as q140 (no interpolation, no
    float sums).  The latency joins order header to its EARLIEST
    lineitem shipment (min per order), so each order contributes one
    exact integer."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    lat = o.join(
        first_ship, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        "o_orderpriority",
        "o_orderkey",
        F.datediff(F.col("first_ship"), F.col("o_orderdate")).alias(
            "days"
        ),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("days", "o_orderkey")
    ww = Window.partitionBy("o_orderpriority")
    r = lat.select(
        "o_orderpriority",
        "days",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(ww).alias("n"),
    )
    return r.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_orders"),
        F.max(F.when(F.expr("rn = (n + 1) div 2"), F.col("days"))).alias(
            "p50_days"
        ),
        F.max(
            F.when(F.expr("rn = (n * 90 + 99) div 100"), F.col("days"))
        ).alias("p90_days"),
        F.max("days").alias("max_days"),
    )


RELATIONAL_QUERIES["q170_ship_latency"] = q170_ship_latency

RELATIONAL_ORACLES["q170_ship_latency"] = """
    WITH fs AS (
      SELECT l_orderkey, MIN(l_shipdate) AS first_ship
      FROM lineitem GROUP BY l_orderkey
    ),
    lat AS (
      SELECT o_orderpriority, o_orderkey,
             date_diff('day', CAST(o_orderdate AS DATE),
                       CAST(first_ship AS DATE)) AS days
      FROM orders JOIN fs ON o_orderkey = l_orderkey
    ),
    r AS (
      SELECT o_orderpriority, days,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY days, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM lat
    )
    SELECT o_orderpriority, MAX(n) AS n_orders,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN days END) AS p50_days,
           MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN days END)
             AS p90_days,
           MAX(days) AS max_days
    FROM r GROUP BY o_orderpriority
"""


def q171_revenue_momentum(spark, sf_dir):
    """Month-over-month revenue momentum per order priority: monthly
    cents-exact revenue, the previous month's (LAG over the month
    series), and the signed delta in ppm — the growth-rate time series
    every revenue dashboard draws, built without floats (cents in,
    integer ppm out; month key = y*100+m so the lag order is a plain
    integer sort).  Output trimmed to 1996 to keep the checked result
    small while still crossing a year of lag boundaries."""
    from pyspark.sql import Window

    from adhesive_spark.operators.text import scaled_long

    o = _t(spark, sf_dir, "orders")
    monthly = (
        o.select(
            "o_orderpriority",
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias(
                "ym"
            ),
            scaled_long(F.col("o_totalprice"), 2).alias("rev_c"),
        )
        .groupBy("o_orderpriority", "ym")
        .agg(F.sum("rev_c").alias("rev_c"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("ym")
    return (
        monthly.withColumn("prev_c", F.lag("rev_c").over(w))
        .where(
            (F.col("ym") >= 199601)
            & (F.col("ym") <= 199612)
            & F.col("prev_c").isNotNull()
        )
        .select(
            "o_orderpriority",
            "ym",
            "rev_c",
            "prev_c",
            F.expr(
                "((rev_c - prev_c) * 1000000) div greatest(prev_c, 1)"
            ).alias("mom_ppm"),
        )
    )


RELATIONAL_QUERIES["q171_revenue_momentum"] = q171_revenue_momentum

RELATIONAL_ORACLES["q171_revenue_momentum"] = """
    WITH monthly AS (
      SELECT o_orderpriority,
             EXTRACT(year FROM o_orderdate) * 100
               + EXTRACT(month FROM o_orderdate) AS ym,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders GROUP BY 1, 2
    ),
    lagged AS (
      SELECT o_orderpriority, ym, rev_c,
             LAG(rev_c) OVER (PARTITION BY o_orderpriority
                              ORDER BY ym) AS prev_c
      FROM monthly
    )
    SELECT o_orderpriority, ym, rev_c, prev_c,
           ((rev_c - prev_c) * 1000000) // GREATEST(prev_c, 1) AS mom_ppm
    FROM lagged
    WHERE ym BETWEEN 199601 AND 199612 AND prev_c IS NOT NULL
"""


def q172_basket_lift(spark, sf_dir):
    """Market-basket affinity: part PAIRS co-bought in the same order
    with LIFT > 2, association-rule mining's core statistic, filtered
    with an integer cross-multiplied predicate (lift = N·n_ab /
    (n_a·n_b) > 2 ⇔ N·n_ab > 2·n_a·n_b — no division, engine-exact).
    The pair space is bounded by per-order basket size (the q131
    wedge-join argument), never by the catalog²; support floor ≥ 3
    co-occurrences prunes noise pairs before the lift join.  Output:
    qualifying pairs with their support counts."""
    # the distinct basket set feeds FIVE consumers (order count, two
    # marginal joins, both self-join sides): materialize it once — the
    # same bytes its distinct shuffle already wrote (the q250
    # basket_affinity shape)
    li = materialize(
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
        "corpus",
    )
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    # catalog-sized marginal, joined twice
    part_counts = materialize(
        li.groupBy("l_partkey").agg(
            F.count("*").alias("n_part")
        ),
        "corpus",
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= 3)
    )
    return (
        pairs.join(
            part_counts.withColumnsRenamed(
                {"l_partkey": "part_a", "n_part": "n_a"}
            ),
            "part_a",
        )
        .join(
            part_counts.withColumnsRenamed(
                {"l_partkey": "part_b", "n_part": "n_b"}
            ),
            "part_b",
        )
        .join(F.broadcast(n_orders))
        .where(
            F.col("n_orders") * F.col("n_ab")
            > 2 * F.col("n_a") * F.col("n_b")
        )
        .select("part_a", "part_b", "n_ab", "n_a", "n_b")
    )


RELATIONAL_QUERIES["q172_basket_lift"] = q172_basket_lift

RELATIONAL_ORACLES["q172_basket_lift"] = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
    pc AS (SELECT l_partkey, COUNT(*) AS n_part FROM li GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS n_ab
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3
    )
    SELECT part_a, part_b, n_ab, pa.n_part AS n_a, pb.n_part AS n_b
    FROM pairs
    JOIN pc pa ON pairs.part_a = pa.l_partkey
    JOIN pc pb ON pairs.part_b = pb.l_partkey
    CROSS JOIN n
    WHERE n.n_orders * n_ab > 2 * pa.n_part * pb.n_part
"""


def q173_supplier_hhi(spark, sf_dir):
    """Supplier-concentration HHI per part brand: the Herfindahl index
    Σ share² over each supplier's revenue share of the brand, in
    integer basis points (shares floored to bp before squaring, so the
    index is engine-exact) — the supply-chain risk metric that flags a
    brand one supplier outage can halt (HHI → 10000 = monopoly).
    Cents-exact revenue in, two keyed aggregates + one broadcast join,
    no floats anywhere."""
    from adhesive_spark.operators.text import scaled_long

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "l_suppkey")
        .agg(
            F.sum(scaled_long(F.col("l_extendedprice"), 2)).alias("rev_c")
        )
    )
    tot = rev.groupBy("p_brand").agg(F.sum("rev_c").alias("tot_c"))
    shares = rev.join(F.broadcast(tot), "p_brand").select(
        "p_brand",
        F.expr("(rev_c * 10000) div tot_c").alias("share_bp"),
    )
    return shares.groupBy("p_brand").agg(
        F.count("*").alias("n_suppliers"),
        F.expr("sum(share_bp * share_bp) div 10000").alias("hhi_bp"),
        F.max("share_bp").alias("top_share_bp"),
    )


RELATIONAL_QUERIES["q173_supplier_hhi"] = q173_supplier_hhi

RELATIONAL_ORACLES["q173_supplier_hhi"] = """
    WITH rev AS (
      SELECT p_brand, l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand, l_suppkey
    ),
    tot AS (
      SELECT p_brand, CAST(SUM(rev_c) AS BIGINT) AS tot_c
      FROM rev GROUP BY p_brand
    ),
    shares AS (
      SELECT rev.p_brand, (rev_c * 10000) // tot_c AS share_bp
      FROM rev JOIN tot USING (p_brand)
    )
    SELECT p_brand, COUNT(*) AS n_suppliers,
           CAST(SUM(share_bp * share_bp) // 10000 AS BIGINT) AS hhi_bp,
           MAX(share_bp) AS top_share_bp
    FROM shares GROUP BY p_brand
"""


def q175_discount_elasticity(spark, sf_dir):
    """Discount-band elasticity panel: per 1%-discount band, the mean
    quantity (×100, integer) and mean extended price in cents — the
    what-if table behind every TPC-H-Q6-style promotion decision
    ("does a deeper discount actually move volume?").  Bands are exact
    integer percent buckets; means are integer div over exact sums, so
    the panel is engine-exact."""
    li = _t(spark, sf_dir, "lineitem")
    from adhesive_spark.operators.text import scaled_long

    banded = li.select(
        F.expr(
            "CAST(ROUND(l_discount * 100, 0) AS BIGINT)"
        ).alias("disc_pct"),
        F.col("l_quantity").cast("long").alias("qty"),
        scaled_long(F.col("l_extendedprice"), 2).alias("price_c"),
    )
    return banded.groupBy("disc_pct").agg(
        F.count("*").alias("n_lines"),
        F.expr("(sum(qty) * 100) div count(*)").alias("mean_qty_x100"),
        F.expr("sum(price_c) div count(*)").alias("mean_price_c"),
    )


RELATIONAL_QUERIES["q175_discount_elasticity"] = q175_discount_elasticity

RELATIONAL_ORACLES["q175_discount_elasticity"] = """
    WITH b AS (
      SELECT CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS disc_pct,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS price_c
      FROM lineitem
    )
    SELECT disc_pct, COUNT(*) AS n_lines,
           (CAST(SUM(qty) AS BIGINT) * 100) // COUNT(*) AS mean_qty_x100,
           CAST(SUM(price_c) AS BIGINT) // COUNT(*) AS mean_price_c
    FROM b GROUP BY disc_pct
"""


def q176_return_rates(spark, sf_dir):
    """Return-rate league table per brand: the share of lineitems
    flagged 'R' in ppm, with an integer binomial sanity band (brands
    below 30 lines are marked low-sample instead of ranked) — the
    quality-complaint proxy a merchandising team reviews weekly.
    One broadcast dim join + one keyed aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    ).select("p_brand", (F.col("l_returnflag") == "R").alias("is_ret"))
    return j.groupBy("p_brand").agg(
        F.count("*").alias("n_lines"),
        F.count_if(F.col("is_ret")).alias("n_returned"),
        F.expr("(count_if(is_ret) * 1000000) div count(*)").alias(
            "return_ppm"
        ),
        (F.count("*") < 30).alias("low_sample"),
    )


RELATIONAL_QUERIES["q176_return_rates"] = q176_return_rates

RELATIONAL_ORACLES["q176_return_rates"] = """
    SELECT p_brand, COUNT(*) AS n_lines,
           COUNT(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
           (COUNT(*) FILTER (WHERE l_returnflag = 'R') * 1000000)
             // COUNT(*) AS return_ppm,
           COUNT(*) < 30 AS low_sample
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
"""
