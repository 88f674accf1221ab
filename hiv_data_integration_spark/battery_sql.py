"""SQL-analytics battery: the operators Spark gives "for free" once the
engine is declarative (SURVEY.md §2.5 note — count-distinct, grouping
sets/cube/rollup, quantiles — plus range/as-of joins, set ops, string
aggregation, correlated subqueries, vector array math).

Same contract as battery.py: every query has a DuckDB oracle with matching
column aliases; float aggregates accumulate as DECIMAL where engine
accumulation order could differ; quantile interpolation uses values exactly
representable in binary so linear interpolation is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hiv_data_integration_spark.battery import Entry, dsum, tbl

# ---------------------------------------------------------------------------
# Multi-dimensional aggregation
# ---------------------------------------------------------------------------


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            dsum("l_quantity").alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
    )


SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS n_rows
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tbl(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"), F.count("*").alias("n_orders")
    )


SQL_CUBE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       count(*) AS n_orders
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


SQL_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey", "l_partkey").alias("n_supp_part"),
    )


SQL_COUNT_DISTINCT = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT (l_suppkey, l_partkey)) AS n_supp_part
FROM lineitem GROUP BY l_returnflag
"""


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q25"),
        F.median("l_quantity").alias("q50"),
        F.expr("percentile(l_quantity, 0.75)").alias("q75"),
    )


SQL_QUANTILES = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       median(l_quantity) AS q50,
       quantile_cont(l_quantity, 0.75) AS q75
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Row-set operations
# ---------------------------------------------------------------------------


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = tbl(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.intersect(supp)


SQL_INTERSECT = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
"""


def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers' account-balance buckets absent from suppliers' (EXCEPT)."""
    cust = tbl(spark, sf_dir, "customer").select(
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket")
    )
    supp = tbl(spark, sf_dir, "supplier").select(
        F.floor(F.col("s_acctbal") / 1000).cast("long").alias("bal_bucket")
    )
    return cust.exceptAll(supp).groupBy("bal_bucket").agg(
        F.count("*").alias("n")
    )


SQL_EXCEPT = """
SELECT bal_bucket, count(*) AS n FROM (
    SELECT CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket FROM customer
    EXCEPT ALL
    SELECT CAST(floor(s_acctbal / 1000) AS BIGINT) FROM supplier
) GROUP BY bal_bucket
"""


# ---------------------------------------------------------------------------
# Temporal joins
# ---------------------------------------------------------------------------


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-user event pairs within a 60 s follow window (equi+range join:
    the user_id equi key bounds the range explosion — the shape that
    scales; a pure theta join would not)."""
    ev = tbl(spark, sf_dir, "events")
    a = ev.select(
        F.col("user_id"), F.col("event_id").alias("id_a"), F.col("ts").alias("ts_a")
    )
    b = ev.select(
        F.col("user_id"), F.col("event_id").alias("id_b"), F.col("ts").alias("ts_b")
    )
    pairs = a.join(b, "user_id").filter(
        (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 60 SECONDS"))
    )
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_follow_pairs"))


SQL_RANGE_JOIN = """
SELECT a.user_id, count(*) AS n_follow_pairs
FROM events a JOIN events b ON a.user_id = b.user_id
WHERE b.ts > a.ts AND b.ts <= a.ts + INTERVAL 60 SECOND
GROUP BY a.user_id
"""


def q_asof_last_event_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of snapshot: each user's latest event value as of each day's end
    (dedup by (ts, event_id) descending — deterministic under ties)."""
    from pyspark.sql.window import Window

    ev = tbl(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    w = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", F.col("value").alias("last_value"))
    )


SQL_ASOF = """
SELECT user_id, day, value AS last_value FROM (
    SELECT user_id, CAST(ts AS DATE) AS day, value,
           row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# String aggregation / subqueries / vector math
# ---------------------------------------------------------------------------


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = tbl(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


SQL_STRING_AGG = """
SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation GROUP BY n_regionkey
"""


def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers above their nation's average balance — a correlated scalar
    subquery decorrelated by Catalyst into a join."""
    tbl(spark, sf_dir, "customer").createOrReplaceTempView("customer_cs")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey
        FROM customer_cs o
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer_cs i
                           WHERE i.c_nationkey = o.c_nationkey)
        """
    )


SQL_CORRELATED = """
SELECT c_custkey, c_nationkey
FROM customer o
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer i
                   WHERE i.c_nationkey = o.c_nationkey)
"""


def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array math over embeddings: L2 norm + elementwise self dot via
    F.aggregate/F.zip_with (JVM-side higher-order functions, no UDF)."""
    emb = tbl(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.sqrt(dot).alias("l2_norm"),
        F.size("embedding").alias("dim"),
    )


SQL_VECTOR_NORMS = """
SELECT vec_id,
       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[]))) AS l2_norm,
       len(embedding) AS dim
FROM embeddings
"""


def q_skyline(spark, sf_dir):
    """Skyline (Pareto frontier) of suppliers on (account balance, shipped
    line count), both maximized — left-anti dominance self-join
    (operators.relational.skyline; cf. EDBT 2023 skyline-in-Spark-SQL).
    SQL oracle: NOT EXISTS over the same dominance predicate."""
    from hiv_data_integration_spark.operators.relational import skyline

    sup = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    li = tbl(spark, sf_dir, "lineitem").groupBy(
        F.col("l_suppkey").alias("s_suppkey")
    ).agg(F.count("*").alias("n_lines"))
    pts = sup.join(li, "s_suppkey", "inner").select(
        "s_suppkey", F.col("s_acctbal").cast("double").alias("bal"), "n_lines"
    )
    return skyline(pts, ["bal", "n_lines"]).select("s_suppkey", "bal", "n_lines")


SQL_SKYLINE = """
WITH pts AS (
    SELECT s_suppkey, CAST(s_acctbal AS DOUBLE) AS bal, n_lines
    FROM supplier
    JOIN (SELECT l_suppkey AS s_suppkey, count(*) AS n_lines
          FROM lineitem GROUP BY 1) USING (s_suppkey)
)
SELECT s_suppkey, bal, n_lines
FROM pts p
WHERE NOT EXISTS (
    SELECT 1 FROM pts q
    WHERE q.bal >= p.bal AND q.n_lines >= p.n_lines
      AND (q.bal > p.bal OR q.n_lines > p.n_lines)
)
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem,
    revenue per open order, top 10 — the canonical selective multi-join
    the optimizer must order correctly (both dim filters before the fact
    join; customer side broadcast). Revenue accumulates as DECIMAL."""
    c = tbl(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = tbl(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1998-03-15")
    )
    li = tbl(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1998-03-15")
    )
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    joined = li.join(
        F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey")
    ).join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    out = (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )
    return out


SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
  AND CAST(l_shipdate AS DATE) > DATE '1998-03-15'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table snowflake (region→nation→customer→orders
    →lineitem→supplier) with the local-supplier constraint
    (``c_nationkey = s_nationkey``), revenue per nation over one year.
    All dimension hops broadcast; only the orders⋈lineitem spine
    shuffles."""
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = tbl(spark, sf_dir, "nation")
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01"))
    )
    li = tbl(spark, sf_dir, "lineitem")
    s = tbl(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(c),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(
        F.sum(revenue).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


SQL_REGION_REVENUE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
GROUP BY n_name
"""


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-family window functions over a unique ordering:
    ntile quartiles, percent_rank, cume_dist, and lead-with-default —
    all single-pass over one (nationkey)-partitioned sort, no UDFs.
    percent_rank/cume_dist are exact rationals divided in doubles, so
    both engines produce identical bits."""
    from pyspark.sql.window import Window

    c = tbl(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal"), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lead("c_acctbal", 1, 0.0).over(w).alias("next_bal"),
    )


SQL_WINDOW_DISTRIBUTION = """
SELECT c_custkey, c_nationkey,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       lead(c_acctbal, 1, 0.0) OVER w AS next_bal
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


def q_recursive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE hierarchy rollup (Spark 4 ``WITH RECURSIVE``,
    SPARK-24497): a synthetic decimal org tree over suppliers
    (``parent = floor(suppkey / 10)``, roots at keys < 10), closed
    transitively by :func:`hierarchy_closure`, then account balances
    rolled up to EVERY ancestor level — the "sum the org tree at each
    node" query the reference walks row-at-a-time in Python. Each
    recursion step is one join of the frontier against the edge
    dimension; depth is O(log10 N), so 100 TB of facts cost
    depth × broadcast-join, never a quadratic closure materialization."""
    from hiv_data_integration_spark.operators.relational import (
        hierarchy_closure,
    )

    sup = tbl(spark, sf_dir, "supplier")
    edges = sup.select(
        F.col("s_suppkey").cast("long").alias("node"),
        F.nullif(
            F.floor(F.col("s_suppkey") / 10.0).cast("long"), F.lit(0)
        ).alias("parent"),
    )
    closure = hierarchy_closure(edges)
    facts = sup.select(
        F.col("s_suppkey").cast("long").alias("node"), "s_acctbal"
    )
    return (
        closure.join(facts, "node")
        .groupBy(F.col("ancestor").alias("org_node"))
        .agg(
            F.count("*").alias("n_desc"),
            F.max("depth").cast("long").alias("max_depth"),
            dsum("s_acctbal").alias("subtree_acctbal"),
        )
    )


SQL_RECURSIVE_CLOSURE = """
WITH RECURSIVE edges AS (
    SELECT CAST(s_suppkey AS BIGINT) AS node,
           NULLIF(CAST(FLOOR(s_suppkey / 10.0) AS BIGINT), 0) AS parent
    FROM supplier
),
walk (node, ancestor, depth) AS (
    SELECT node, node AS ancestor, 0 AS depth FROM edges
    UNION ALL
    SELECT w.node, e.parent AS ancestor, w.depth + 1
    FROM walk w
    JOIN edges e ON w.ancestor = e.node
    WHERE e.parent IS NOT NULL AND e.parent <> w.ancestor
)
SELECT w.ancestor AS org_node,
       count(*) AS n_desc,
       CAST(MAX(w.depth) AS BIGINT) AS max_depth,
       CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           AS subtree_acctbal
FROM walk w JOIN supplier s ON w.node = CAST(s.s_suppkey AS BIGINT)
GROUP BY w.ancestor
"""


def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate subquery driving the
    outer join (customers whose orders exceed 300 total quantity).

    The pre-aggregation runs FIRST and is tiny (tens of rows), so the
    orders join against it is broadcast-able by AQE and the big lineitem
    table is touched exactly once — at 100 TB the HAVING filter is the
    whole query; joining facts before aggregating would be quadratically
    worse. Quantities accumulate as DECIMAL for bit-stable doubles."""
    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300.0)
    )
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
    )


SQL_LARGE_ORDER_CUSTOMERS = """
WITH big AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300.0
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN big      ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the hardest decorrelation pattern — EXISTS plus
    NOT EXISTS, both correlated on the same derived table. Suppliers who
    shipped >365 days after the order date in a multi-supplier order
    where EVERY other supplier shipped on time.

    The engine side runs the manually-decorrelated single-pass form:
    one per-order aggregate (distinct suppliers, distinct LATE
    suppliers) joined back onto the late rows — a late row qualifies
    iff ``n_supp >= 2 AND n_late_supp = 1`` (it is then necessarily the
    only late supplier). The oracle keeps the textbook correlated
    EXISTS / NOT EXISTS formulation, so the hash check proves the
    rewrite equivalent row-for-row. Spark's own subquery decorrelation
    would instead expand the derived table three times (CTEs inline);
    at fact scale the one-aggregate form is one shuffle over
    ``l_orderkey`` instead of three. Day lag uses integer ``datediff``
    so both engines compare exact integers."""
    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders")
    s = tbl(spark, sf_dir, "supplier")
    l1 = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.datediff(
                F.to_date("l_shipdate"), F.to_date("o_orderdate")
            )
            > 365
        ).alias("late"),
    )
    per_order = l1.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    qualifying = (
        l1.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        qualifying.join(
            F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


SQL_WAITING_SUPPLIERS = """
WITH l1 AS (
    SELECT l.l_orderkey, l.l_suppkey,
           date_diff('day', CAST(o.o_orderdate AS DATE),
                     CAST(l.l_shipdate AS DATE)) > 365 AS late
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT s.s_name, count(*) AS numwait
FROM l1 a JOIN supplier s ON a.l_suppkey = s.s_suppkey
WHERE a.late
  AND EXISTS (SELECT 1 FROM l1 b
              WHERE b.l_orderkey = a.l_orderkey
                AND b.l_suppkey <> a.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l1 c
                  WHERE c.l_orderkey = a.l_orderkey
                    AND c.l_suppkey <> a.l_suppkey AND c.late)
GROUP BY s.s_name
"""


def q_inactive_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global scalar subquery (average positive balance)
    + anti join (customers with no order since 2001), aggregated per
    synthetic country code.

    The above-average predicate is cross-multiplied into exact DECIMAL
    arithmetic (``bal * n > total``) instead of comparing against a
    floating-point average — a 1-ulp avg difference between engines
    would otherwise flip boundary customers. The scalar aggregate is one
    broadcast value; the anti join shuffles on ``custkey`` once."""
    tbl(spark, sf_dir, "customer").createOrReplaceTempView("cust_q22")
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("ord_q22")
    return spark.sql(
        """
        WITH pos AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(28,2))
                       AS total_bal,
                   count(*) AS n_pos
            FROM cust_q22 WHERE c_acctbal > 0
        )
        SELECT CAST(c.c_nationkey % 10 AS BIGINT) AS country_code,
               count(*) AS n_cust,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_acctbal
        FROM cust_q22 c CROSS JOIN pos
        WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * pos.n_pos > pos.total_bal
          AND NOT EXISTS (SELECT 1 FROM ord_q22 o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2001-01-01')
        GROUP BY 1
        """
    )


SQL_INACTIVE_ABOVE_AVG = """
WITH pos AS (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(28,2))
               AS total_bal,
           count(*) AS n_pos
    FROM customer WHERE c_acctbal > 0
)
SELECT CAST(c.c_nationkey % 10 AS BIGINT) AS country_code,
       count(*) AS n_cust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer c CROSS JOIN pos
WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * pos.n_pos > pos.total_bal
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY 1
"""


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (share of revenue
    from PROMO parts) per ship month over one year. Both sums accumulate
    as DECIMAL; only the FINAL division runs in doubles — one IEEE op on
    bit-identical operands, so the ratio is bit-stable across engines.
    The part dimension broadcasts; lineitem is scanned once with the
    month filter pushed to parquet."""
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1997-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1998-01-01"))
    )
    p = tbl(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    )
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(
        F.lit(0.00).cast("decimal(38,4)")
    )
    joined = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return (
        joined.groupBy(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
        )
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(revenue).cast("double").alias("total_revenue"),
        )
        .withColumn(
            "promo_share",
            F.col("promo_revenue") / F.col("total_revenue"),
        )
    )


SQL_PROMO_REVENUE_SHARE = """
WITH j AS (
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
               AS rev,
           p_type
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
)
SELECT ship_month,
       CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev
                     ELSE CAST(0.00 AS DECIMAL(38,4)) END) AS DOUBLE)
           AS promo_revenue,
       CAST(SUM(rev) AS DOUBLE) AS total_revenue,
       CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev
                     ELSE CAST(0.00 AS DECIMAL(38,4)) END) AS DOUBLE)
         / CAST(SUM(rev) AS DOUBLE) AS promo_share
FROM j GROUP BY ship_month
"""


def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (top-2
    orders per customer by price) — the SQL:2016 lateral-join surface.
    Catalyst decorrelates the limit into a ranked window join (one
    shuffle on the correlation key), never a per-customer re-execution;
    the deterministic tiebreak (``o_orderkey``) makes the cut
    bit-stable."""
    tbl(spark, sf_dir, "customer").createOrReplaceTempView("cust_lat")
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("ord_lat")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM cust_lat c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM ord_lat o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        """
    )


SQL_LATERAL_TOPN = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders o
    WHERE o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
"""


def q_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair shipping volume by ship
    year. The two nation lookups play different ROLES (supplier's vs
    customer's nation) over the same broadcast dim — the classic
    role-playing-dimension join. Fact joins shuffle on their natural keys
    (orderkey, custkey); both nation joins and the supplier join
    broadcast; the pair filter prunes before aggregation. Revenue
    accumulates as DECIMAL so the yearly totals are bit-identical."""
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1998-01-01"))
    )
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = tbl(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    )
    j = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(n.withColumnRenamed("n_name", "supp_nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .drop("n_nationkey")
        .join(
            F.broadcast(n.withColumnRenamed("n_name", "cust_nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
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
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("ship_year"),
    ).agg(
        F.sum(revenue).cast("double").alias("volume"),
        F.count("*").alias("n_items"),
    )


SQL_NATION_VOLUME = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS volume,
       count(*) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a target nation's market share of PROMO-part
    revenue inside one region, per order year. Numerator is a
    conditional aggregate over the same rows as the denominator (one
    scan, no second pass); both accumulate as DECIMAL and only the final
    share division runs in doubles — one IEEE op on bit-identical
    operands. The region filter prunes through the customer-side nation
    broadcast join before the fact shuffle."""
    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = tbl(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    n = tbl(spark, sf_dir, "nation")
    cust_nations = n.filter(F.col("n_regionkey") == 2).select(
        F.col("n_nationkey").alias("cn_key")
    )
    supp_nation = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    )
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
    )
    target = F.when(F.col("sn_name") == "NATION_3", revenue).otherwise(
        F.lit(0.00).cast("decimal(38,4)")
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.sum(target).cast("double").alias("nation_revenue"),
            F.sum(revenue).cast("double").alias("region_revenue"),
        )
        .withColumn(
            "market_share",
            F.col("nation_revenue") / F.col("region_revenue"),
        )
    )


SQL_MARKET_SHARE = """
WITH j AS (
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS order_year,
           CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2))
                - CAST(l.l_discount AS DECIMAL(18,2))) AS rev,
           sn.n_name AS sn_name
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey AND cn.n_regionkey = 2
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
)
SELECT order_year,
       CAST(SUM(CASE WHEN sn_name = 'NATION_3' THEN rev
                     ELSE CAST(0.00 AS DECIMAL(38,4)) END) AS DOUBLE)
           AS nation_revenue,
       CAST(SUM(rev) AS DOUBLE) AS region_revenue,
       CAST(SUM(CASE WHEN sn_name = 'NATION_3' THEN rev
                     ELSE CAST(0.00 AS DECIMAL(38,4)) END) AS DOUBLE)
         / CAST(SUM(rev) AS DOUBLE) AS market_share
FROM j GROUP BY order_year
"""


def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned
    items in one order quarter. Aggregate-first: the per-customer
    revenue rolls up BEFORE the customer/nation dims attach, so the
    top-k sort ranks a customer-sized set, not a fact-sized one.
    Revenue is DECIMAL-exact, so the top-20 cut (ties broken by
    c_custkey) selects identical rows in both engines."""
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = tbl(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1999-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1999-04-01"))
    ).select("o_orderkey", "o_custkey")
    c = tbl(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    n = tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    )
    per_cust = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(revenue).alias("_rev_dec"))
    )
    return (
        per_cust.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .orderBy(F.col("_rev_dec").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("_rev_dec").cast("double").alias("lost_revenue"),
        )
    )


SQL_RETURNED_ITEM_REVENUE = """
WITH per_cust AS (
    SELECT o.o_custkey,
           SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2))
                  - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev_dec
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1999-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1999-04-01'
    GROUP BY o.o_custkey
)
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(p.rev_dec AS DOUBLE) AS lost_revenue
FROM per_cust p
JOIN customer c ON p.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY p.rev_dec DESC, c.c_custkey
LIMIT 20
"""


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count — a
    LEFT OUTER join with the predicate in the JOIN condition (not the
    WHERE), so customers whose every order is urgent still appear with
    count 0; then a count-of-counts re-aggregation. The hash check pins
    exactly the outer-join-vs-filter semantics that a naive WHERE
    placement silently breaks."""
    c = tbl(spark, sf_dir, "customer").select("c_custkey")
    o = tbl(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


SQL_ORDER_COUNT_DISTRIBUTION = """
WITH per_cust AS (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c LEFT OUTER JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count
"""


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    revenue, selected by a scalar max-subquery over a shared derived
    table. Revenue stays DECIMAL end-to-end INCLUDING the max-equality
    predicate — a float max would 1-ulp-miss the equality join and
    return zero rows on some engines. Spark reuses the revenue aggregate
    across both references (same temp view, one Exchange reused)."""
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1999-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1999-04-01"))
    )
    s = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(revenue).alias("total_dec")
    )
    best = rev.agg(F.max("total_dec").alias("best_dec"))
    return (
        rev.join(F.broadcast(best), F.col("total_dec") == F.col("best_dec"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_dec").cast("double").alias("total_revenue"),
        )
    )


SQL_TOP_REVENUE_SUPPLIER = """
WITH rev AS (
    SELECT l_suppkey AS supplier_no,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2))
                  - CAST(l_discount AS DECIMAL(18,2)))) AS total_dec
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1999-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1999-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_dec AS DOUBLE) AS total_revenue
FROM rev r JOIN supplier s ON r.supplier_no = s.s_suppkey
WHERE r.total_dec = (SELECT max(total_dec) FROM rev)
"""


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    20% of their part's average quantity — the classic correlated scalar
    AVG, manually decorrelated to ONE per-part aggregate + join-back
    (one ``l_partkey`` shuffle; the subquery form would rescan lineitem
    per part). The below-average predicate is cross-multiplied into
    exact DECIMAL (``5·qty·n < sum``) so no float-average boundary can
    flip a row between engines; only the final per-brand yearly average
    divides in doubles. Oracle keeps the textbook correlated form — the
    hash proves the rewrite."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").select("p_partkey", "p_brand")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qty).alias("sum_qty"), F.count("*").alias("n_li")
    )
    j = (
        li.join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(
            qty * F.lit(5).cast("decimal(18,2)") * F.col("n_li")
            < F.col("sum_qty")
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    )
    return j.groupBy("p_brand").agg(
        F.count("*").alias("n_small"),
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            / F.lit(7.0)
        ).alias("avg_yearly"),
    )


SQL_SMALL_QUANTITY_REVENUE = """
SELECT p.p_brand, count(*) AS n_small,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
           AS avg_yearly
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5
        * (SELECT count(*) FROM lineitem l2
           WHERE l2.l_partkey = l.l_partkey)
      < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(18,2)))
         FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)
GROUP BY p.p_brand
"""


def q_disjunctive_part_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a DISJUNCTION of three
    (brand, size-range, quantity-range) conjunct groups — the classic
    OR-of-ANDs predicate that tests an optimizer's ability to keep a
    broadcast join + common-conjunct pushdown instead of falling back
    to a cross product. Grouped per matching brand; DECIMAL revenue."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 40)
            & qty.between(20, 30)
        )
    )
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .groupBy("p_brand")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_DISJUNCTIVE_PART_FILTER = """
SELECT p.p_brand,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 40
       AND l.l_quantity BETWEEN 20 AND 30)
GROUP BY p.p_brand
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the EUROPE supplier
    quoting the minimum price, selected by a correlated-MIN subquery
    whose result joins back on a MULTI-column key (partkey, price) —
    the classic "argmin join-back". The testdata has no ``partsupp``,
    so the quoted price is the minimum ``l_extendedprice`` the
    (part, supplier) pair ever shipped at — same shape, same
    decorrelation question. Engine side decorrelates to ONE per-part
    aggregate + equi join-back (one ``p_partkey`` shuffle); the oracle
    keeps the textbook correlated subquery, so the hash proves the
    rewrite. Prices stay DECIMAL through the min-equality predicate —
    a float min would 1-ulp-miss the join-back. Top-100 by account
    balance with full deterministic tie-breaks."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") == 15)
    ).select("p_partkey", "p_name")
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = tbl(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    ).select("r_regionkey")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    quotes = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name",
                 "s_acctbal", "n_name")
        .agg(F.min(price).alias("_cost_dec"))
    )
    best = quotes.groupBy(F.col("p_partkey").alias("_bk")).agg(
        F.min("_cost_dec").alias("_best_dec")
    )
    return (
        quotes.join(
            best,
            (F.col("p_partkey") == F.col("_bk"))
            & (F.col("_cost_dec") == F.col("_best_dec")),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
        .select(
            "s_acctbal", "s_name", F.col("n_name").alias("nation"),
            "p_partkey", "p_name",
            F.col("_cost_dec").cast("double").alias("min_cost"),
        )
    )


SQL_MIN_COST_SUPPLIER = """
WITH quotes AS (
    SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
           n.n_name,
           MIN(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS cost_dec
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
      AND p.p_type = 'LARGE' AND p.p_size = 15
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
    GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT q.s_acctbal, q.s_name, q.n_name AS nation, q.p_partkey, q.p_name,
       CAST(q.cost_dec AS DOUBLE) AS min_cost
FROM quotes q
WHERE q.cost_dec = (SELECT MIN(q2.cost_dec) FROM quotes q2
                    WHERE q2.p_partkey = q.p_partkey)
ORDER BY q.s_acctbal DESC, q.n_name, q.s_name, q.p_partkey
LIMIT 100
"""


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in one quarter counted per priority when
    at least one lineitem shipped late — an EXISTS semi join whose
    correlation carries a NON-equi conjunct (``l_shipdate >
    o_orderdate + 30 days``; the testdata has no commit/receipt dates,
    so "late" is ship-lag against the order date — same mixed
    equi+range correlated-EXISTS shape). Spark executes it as a
    LeftSemi hash join on ``orderkey`` with the range conjunct as a
    join residual — one fact shuffle, no fact duplication from the
    multi-lineitem fan-out (semi join emits each order at most once)."""
    o = tbl(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1998-07-01"))
        & (F.to_date("o_orderdate") < F.lit("1998-10-01"))
    )
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (
        F.to_date("l_shipdate") > F.date_add(F.to_date("o_orderdate"), 30)
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


SQL_ORDER_PRIORITY_CHECK = """
SELECT o.o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE CAST(o.o_orderdate AS DATE) >= DATE '1998-07-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1998-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND CAST(l.l_shipdate AS DATE)
                    > CAST(o.o_orderdate AS DATE) + INTERVAL 30 DAY)
GROUP BY o.o_orderpriority
"""


def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-table filter aggregate — the revenue
    gained by eliminating small discounts in one year. Every predicate
    (ship year, discount band, quantity cap) pushes to the parquet
    scan; the whole query is one scan + one partial/final agg with no
    shuffle beyond the 1-row final. Discount-band bounds compare in
    DECIMAL so 0.05/0.07 (not binary-exact as doubles) cannot flip
    boundary rows between engines."""
    li = tbl(spark, sf_dir, "lineitem")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.filter(
            (F.to_date("l_shipdate") >= F.lit("1997-01-01"))
            & (F.to_date("l_shipdate") < F.lit("1998-01-01"))
            & (disc >= F.lit("0.05").cast("decimal(4,2)"))
            & (disc <= F.lit("0.07").cast("decimal(4,2)"))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * disc)
            .cast("double")
            .alias("revenue_delta"),
            F.count("*").alias("n_items"),
        )
    )


SQL_FORECAST_REVENUE_CHANGE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
           AS revenue_delta,
       count(*) AS n_items
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN
        CAST('0.05' AS DECIMAL(4,2)) AND CAST('0.07' AS DECIMAL(4,2))
  AND l_quantity < 24
"""


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-nation per-year profit on a part-name
    pattern — a 5-table star whose measure SUBTRACTS a cost term from
    revenue inside the aggregate. The testdata has no ``partsupp``,
    so cost is ``p_retailprice × l_quantity`` (the dim attribute plays
    supplycost) — the shape under test is the multi-table profit
    expression, LIKE-pattern dim pruning, and the two-level group-by.
    Profit accumulates in DECIMAL end-to-end: revenue and cost terms
    subtract exactly, so per-(nation, year) sums are bit-identical
    regardless of partitioning."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    ).select("p_partkey", "p_retailprice")
    s = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    ) - F.col("p_retailprice").cast("decimal(18,2)") * F.col(
        "l_quantity"
    ).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.sum(amount).cast("double").alias("profit"),
            F.count("*").alias("n_items"),
        )
    )


SQL_PRODUCT_TYPE_PROFIT = """
SELECT n.n_name AS nation,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l.l_discount AS DECIMAL(18,2)))
                - CAST(p.p_retailprice AS DECIMAL(18,2))
                  * CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           AS profit,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%widget%'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2
"""


def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts representing a significant share of one
    nation's total traded value — a grouped aggregate filtered by a
    HAVING against a SCALAR subquery over the same filtered set
    (``value > 0.001 × total``). The share predicate runs in exact
    BIGINT ten-thousandths (each line's DECIMAL(·,4) amount is an
    integral number of 1e-4 units, so the cast is lossless and
    ``value_e4 × 1000 > total_e4`` is pure integer math) — a float
    share would flip boundary parts between engines. One ``l_partkey``
    shuffle; the total is a broadcast scalar."""
    li = tbl(spark, sf_dir, "lineitem")
    s = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = tbl(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    ).select("n_nationkey")
    amount_e4 = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (
            F.lit(1).cast("decimal(3,2)")
            - F.col("l_discount").cast("decimal(4,2)")
        )
        * F.lit(10000)
    ).cast("long")
    per_part = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(amount_e4).alias("_value_e4"))
    )
    total = per_part.agg(F.sum("_value_e4").alias("_total_e4"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("_value_e4") * 1000 > F.col("_total_e4"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("_value_e4") / F.lit(10000.0)).alias("part_value"),
        )
    )


SQL_IMPORTANT_PART_VALUE = """
WITH per_part AS (
    SELECT l.l_partkey,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(3,2))
                            - CAST(l.l_discount AS DECIMAL(4,2)))
                         * 10000 AS BIGINT)) AS BIGINT) AS value_e4
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
      AND n.n_name = 'NATION_7'
    GROUP BY l.l_partkey
)
SELECT p.l_partkey AS p_partkey, p.value_e4 / 10000.0 AS part_value
FROM per_part p
WHERE p.value_e4 * 1000 > (SELECT CAST(SUM(value_e4) AS BIGINT)
                           FROM per_part)
"""


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late shipments in one year, grouped by a line
    attribute, with the order-priority split folded into CONDITIONAL
    COUNTS (the CASE-inside-SUM idiom). The testdata has no
    ``l_shipmode``/commit/receipt dates, so the group key is
    ``l_returnflag`` and "late" is ship-lag > 60 days — the shape under
    test is the fact-fact join with a derived range predicate plus the
    two-way conditional aggregation. One ``orderkey`` shuffle pair."""
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1998-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1999-01-01"))
    ).select("l_orderkey", "l_returnflag", "l_shipdate")
    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.to_date("l_shipdate")
            > F.date_add(F.to_date("o_orderdate"), 60)
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


SQL_LATE_SHIPMENT_PRIORITY = """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE CAST(l.l_shipdate AS DATE) >= DATE '1998-01-01'
  AND CAST(l.l_shipdate AS DATE) < DATE '1999-01-01'
  AND CAST(l.l_shipdate AS DATE)
      > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY
GROUP BY l.l_returnflag
"""


def q_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    group, EXCLUDING suppliers from a NOT-IN subquery. The testdata has
    no ``partsupp``, so shipment history (lineitem) is the
    part↔supplier bridge, and the exclusion list is negative-balance
    suppliers (standing in for the comment-complaints filter). Spark
    plans the NOT IN as a broadcast left-anti join (the exclusion list
    is tiny and ``s_suppkey`` is non-null, so NOT-IN's three-valued
    trap does not bite — documented here, asserted by the oracle
    keeping the literal NOT IN). Distinct count shuffles once on the
    attribute group."""
    li = tbl(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = tbl(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = tbl(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("_bad_sk"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("_bad_sk"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_SUPPLIER_COUNT_BY_PART = """
SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def q_promotion_qty_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who shipped a
    significant quantity of a name-pattern part family in one year —
    the NESTED-IN pyramid (supplier IN … lineitem group HAVING …
    part IN …). The testdata has no ``partsupp``/availqty, so the
    HAVING threshold is a fixed shipped-quantity floor rather than
    0.5×availqty — the shape under test is the two-level IN
    decorrelation. Engine side: broadcast the part-id list into the
    fact scan, aggregate per (supplier, part), threshold in DECIMAL,
    then ONE semi join onto supplier; the oracle keeps both textbook
    IN subqueries. No fact re-scan, no duplication from multi-part
    qualification (semi join emits each supplier once)."""
    part_ids = tbl(spark, sf_dir, "part").filter(
        F.col("p_name").like("cold%")
    ).select("p_partkey")
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1998-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1999-01-01"))
    )
    qual = (
        li.join(
            F.broadcast(part_ids), F.col("l_partkey") == F.col("p_partkey")
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_qty"))
        .filter(F.col("_qty") > F.lit(50).cast("decimal(18,2)"))
        .select("l_suppkey")
    )
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_4"
    ).select("n_nationkey")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
    )


SQL_PROMOTION_QTY_SUPPLIERS = """
SELECT s.s_suppkey, s.s_name, s.s_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_4'
WHERE s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l
    WHERE l.l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE 'cold%')
      AND CAST(l.l_shipdate AS DATE) >= DATE '1998-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1999-01-01'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
           > CAST(50 AS DECIMAL(18,2))
)
"""



def q_revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period BI shape: monthly DECIMAL revenue per return
    flag, with month-over-month delta and growth ratio via lag. The
    delta subtracts in DECIMAL (exact); both outputs cast to double at
    the end, the ratio is one IEEE division. First month per flag has
    NULL delta/ratio (no prior period), preserved on both engines."""
    from pyspark.sql.window import Window

    li = tbl(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    )
    monthly = (
        li.groupBy(
            "l_returnflag",
            F.date_format(F.to_date("l_shipdate"), "yyyy-MM").alias("month"),
        )
        .agg(F.sum(revenue).alias("_rev"))
    )
    w = Window.partitionBy("l_returnflag").orderBy("month")
    prev = F.lag("_rev").over(w)
    return monthly.select(
        "l_returnflag",
        "month",
        F.col("_rev").cast("double").alias("revenue"),
        (F.col("_rev") - prev).cast("double").alias("mom_delta"),
        (
            F.col("_rev").cast("double") / prev.cast("double")
        ).alias("mom_ratio"),
    )


SQL_REVENUE_MOM_GROWTH = """
WITH monthly AS (
    SELECT l_returnflag, strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS month,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2))
                  - CAST(l_discount AS DECIMAL(18,2)))) AS rev
    FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag, month,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(rev - lag(rev) OVER (PARTITION BY l_returnflag ORDER BY month)
            AS DOUBLE) AS mom_delta,
       CAST(rev AS DOUBLE)
           / CAST(lag(rev) OVER (PARTITION BY l_returnflag ORDER BY month)
                  AS DOUBLE) AS mom_ratio
FROM monthly
"""


def q_sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark SQL PIVOT clause (the declarative wide-table rotation —
    complements the DataFrame `.pivot()` entries): per return flag,
    DECIMAL quantity totals pivoted across the three line statuses.
    Explicit IN-list keeps the plan deterministic (no distinct-key
    collect from the fact). Oracle spells it as conditional aggregates
    — DuckDB's PIVOT names columns differently, values are what's
    compared."""
    tbl(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_pv")
    return spark.sql("""
        SELECT l_returnflag,
               CAST(F AS DOUBLE) AS qty_f,
               CAST(O AS DOUBLE) AS qty_o,
               CAST(P AS DOUBLE) AS qty_p
        FROM (
            SELECT l_returnflag, l_linestatus,
                   CAST(l_quantity AS DECIMAL(18,2)) AS q
            FROM lineitem_pv
        )
        PIVOT (SUM(q) FOR l_linestatus IN ('F' AS F, 'O' AS O, 'P' AS P))
    """)


SQL_SQL_PIVOT_CLAUSE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'F'
                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
           AS qty_f,
       CAST(SUM(CASE WHEN l_linestatus = 'O'
                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
           AS qty_o,
       CAST(SUM(CASE WHEN l_linestatus = 'P'
                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
           AS qty_p
FROM lineitem GROUP BY l_returnflag
"""


def q_sql_unpivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark SQL UNPIVOT clause (long-form rotation, the R1op stack's
    declarative twin): part size/retail columns unpivoted to
    (measure, value) rows; NULL values dropped by UNPIVOT's default,
    mirrored in the oracle."""
    tbl(spark, sf_dir, "part").createOrReplaceTempView("part_upv")
    return spark.sql("""
        SELECT p_partkey, measure, CAST(value AS DOUBLE) AS value
        FROM (
            SELECT p_partkey,
                   CAST(p_size AS DOUBLE) AS size,
                   CAST(p_retailprice AS DOUBLE) AS retail
            FROM part_upv
        )
        UNPIVOT (value FOR measure IN (size, retail))
    """)


SQL_SQL_UNPIVOT_CLAUSE = """
SELECT p_partkey, measure, value FROM (
    SELECT p_partkey, 'size' AS measure,
           CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'retail', CAST(p_retailprice AS DOUBLE) FROM part
) WHERE value IS NOT NULL
"""


def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` (Spark 3.4+ / DuckDB shared syntax): group by
    every non-aggregate select item — the boilerplate-free aggregation
    form; the oracle runs the IDENTICAL text."""
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("orders_gba")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM orders_gba
        GROUP BY ALL
        """
    )


SQL_SQL_GROUP_BY_ALL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders GROUP BY ALL
"""


def q_sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named ``WINDOW`` clause: one window spec shared by several
    ranking/frame functions (top-3 balances per nation with a running
    nation total) — the SQL-surface twin of the DataFrame Window object;
    both engines run the same clause text."""
    tbl(spark, sf_dir, "customer").createOrReplaceTempView("customer_nw")
    return spark.sql(
        """
        SELECT * FROM (
            SELECT c_custkey, c_nationkey,
                   CAST(row_number() OVER w AS BIGINT) AS rn,
                   CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) OVER w
                        AS BIGINT) AS running_cents
            FROM customer_nw
            WINDOW w AS (PARTITION BY c_nationkey
                         ORDER BY c_acctbal DESC, c_custkey)
        ) WHERE rn <= 3
        """
    )


SQL_SQL_NAMED_WINDOW = """
SELECT * FROM (
    SELECT c_custkey, c_nationkey,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) OVER w
                AS BIGINT) AS running_cents
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey)
) WHERE rn <= 3
"""


_RANGE_VALUE_FRAME_SQL = """
SELECT * FROM (
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                OVER w AS BIGINT) AS nearby_cents,
           CAST(COUNT(*) OVER w AS BIGINT) AS nearby_n
    FROM {table}
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
                 RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING)
) WHERE o_orderkey % 199 = 0
"""


def q_sql_range_value_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based RANGE window frame (the peers-by-distance frame ROWS
    can't express): per priority, the exact-cents sum and count of
    orders within ±1000.0 of the current order's price — nearest-price
    cohort stats. The frame boundary is a double comparison and the
    measure an exact BIGINT cents sum, so the IDENTICAL clause text runs
    on both engines; the window computes over the full partition, the
    ~0.5% probe filter applies outside it."""
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("orders_rvf")
    return spark.sql(_RANGE_VALUE_FRAME_SQL.format(table="orders_rvf"))


SQL_SQL_RANGE_VALUE_FRAME = _RANGE_VALUE_FRAME_SQL.format(table="orders")


ENTRIES: list[Entry] = [
    ("sql_range_value_frame", q_sql_range_value_frame, SQL_SQL_RANGE_VALUE_FRAME),
    ("sql_group_by_all", q_sql_group_by_all, SQL_SQL_GROUP_BY_ALL),
    ("sql_named_window_clause", q_sql_named_window, SQL_SQL_NAMED_WINDOW),
    ("sql_pivot_clause", q_sql_pivot_clause, SQL_SQL_PIVOT_CLAUSE),
    ("sql_unpivot_clause", q_sql_unpivot_clause, SQL_SQL_UNPIVOT_CLAUSE),
    ("rollup_lineitem", q_rollup, SQL_ROLLUP),
    ("cube_orders", q_cube, SQL_CUBE),
    ("grouping_sets_orders", q_grouping_sets, SQL_GROUPING_SETS),
    ("count_distinct_parts", q_count_distinct, SQL_COUNT_DISTINCT),
    ("grouped_quantiles", q_quantiles, SQL_QUANTILES),
    ("intersect_nations", q_intersect, SQL_INTERSECT),
    ("except_balance_buckets", q_except, SQL_EXCEPT),
    ("range_join_events", q_range_join, SQL_RANGE_JOIN),
    ("asof_last_event_per_day", q_asof_last_event_per_day, SQL_ASOF),
    ("string_agg_nations", q_string_agg, SQL_STRING_AGG),
    ("correlated_subquery_balance", q_correlated_subquery, SQL_CORRELATED),
    ("embed_vector_norms", q_vector_norms, SQL_VECTOR_NORMS),
    ("skyline_suppliers", q_skyline, SQL_SKYLINE),
    ("recursive_org_rollup", q_recursive_closure, SQL_RECURSIVE_CLOSURE),
    ("window_distribution_funcs", q_window_distribution, SQL_WINDOW_DISTRIBUTION),
    ("shipping_priority_top10", q_shipping_priority, SQL_SHIPPING_PRIORITY),
    ("region_local_supplier_revenue", q_region_revenue, SQL_REGION_REVENUE),
    ("large_order_customers", q_large_order_customers, SQL_LARGE_ORDER_CUSTOMERS),
    ("waiting_supplier_ranking", q_waiting_suppliers, SQL_WAITING_SUPPLIERS),
    ("inactive_above_avg_balance", q_inactive_above_avg, SQL_INACTIVE_ABOVE_AVG),
    ("promo_revenue_share", q_promo_revenue_share, SQL_PROMO_REVENUE_SHARE),
    ("lateral_topn_orders", q_lateral_topn, SQL_LATERAL_TOPN),
    ("nation_volume_shipping", q_nation_volume_shipping, SQL_NATION_VOLUME),
    ("market_share_by_year", q_market_share, SQL_MARKET_SHARE),
    ("returned_item_revenue", q_returned_item_revenue, SQL_RETURNED_ITEM_REVENUE),
    ("order_count_distribution",
     q_order_count_distribution, SQL_ORDER_COUNT_DISTRIBUTION),
    ("top_revenue_supplier", q_top_revenue_supplier, SQL_TOP_REVENUE_SUPPLIER),
    ("small_quantity_revenue", q_small_quantity_revenue, SQL_SMALL_QUANTITY_REVENUE),
    ("disjunctive_part_filter", q_disjunctive_part_filter, SQL_DISJUNCTIVE_PART_FILTER),
    ("min_cost_supplier_part", q_min_cost_supplier, SQL_MIN_COST_SUPPLIER),
    ("order_priority_check", q_order_priority_check, SQL_ORDER_PRIORITY_CHECK),
    ("forecast_revenue_change", q_forecast_revenue_change, SQL_FORECAST_REVENUE_CHANGE),
    ("product_type_profit", q_product_type_profit, SQL_PRODUCT_TYPE_PROFIT),
    ("important_part_value", q_important_part_value, SQL_IMPORTANT_PART_VALUE),
    ("late_shipment_priority", q_late_shipment_priority, SQL_LATE_SHIPMENT_PRIORITY),
    ("supplier_count_by_part", q_supplier_count_by_part, SQL_SUPPLIER_COUNT_BY_PART),
    ("promotion_qty_suppliers", q_promotion_qty_suppliers, SQL_PROMOTION_QTY_SUPPLIERS),
    ("revenue_mom_growth", q_revenue_mom_growth, SQL_REVENUE_MOM_GROWTH),
]
