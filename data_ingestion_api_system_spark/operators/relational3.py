"""Third relational batch: market-share, distribution, top-1-by-group,
selective-aggregate-subquery, and anti-join analytics (TPC-H q8/q13/q15/
q17/q22 shapes), plus the scale patterns every 100 TB pipeline needs
spelled out: two-phase salted aggregation, unpivot, and map-typed columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import (
    SQL_REVENUE_DEC,
    exact_sum_dec,
    revenue_dec,
    sql_exact_sum_dec,
)
from ..tables import load_table
from . import pin, tune


# ---------------------------------------------------------------------------
# TPC-H Q8 (adapted): market share of one nation per year.
# ---------------------------------------------------------------------------

def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of ASIA-region revenue supplied by NATION_12's suppliers per
    order year: conditional decimal sum over a 6-way star join, then an
    engine-identical double division. NATION_12 is the ONE ASIA nation
    (n_regionkey = n_nationkey mod 5) that has suppliers at ALL THREE
    generated SFs (measured: sf0.001's supplier nations are
    {3,8,12,13,15,18,19,20,21,24}) — the original 'CHINA' constant
    matched no generated nation name, which made the conditional sum
    vacuously zero in BOTH engines (hash-matching but exercising
    nothing), and the first fix (NATION_7) was still vacuous at
    sf0.001."""
    tune(spark)
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sn = nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    rev = revenue_dec()
    focus_rev = F.when(F.col("supp_nation") == "NATION_12", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("snk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            exact_sum_dec(focus_rev).alias("focus_revenue"),
            exact_sum_dec(rev).alias("total_revenue"),
        )
        .select(
            "o_year",
            "focus_revenue",
            "total_revenue",
            F.round(F.col("focus_revenue") / F.col("total_revenue"), 6).alias(
                "market_share"
            ),
        )
    )


_ORACLE_Q8 = f"""
WITH base AS (
  SELECT year(o_orderdate) AS o_year, n1.n_name AS supp_nation,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  WHERE r_name = 'ASIA'
)
SELECT CAST(o_year AS INT) AS o_year,
       {sql_exact_sum_dec(f"CASE WHEN supp_nation = 'NATION_12' THEN {SQL_REVENUE_DEC} ELSE CAST(0 AS DECIMAL(18,4)) END")} AS focus_revenue,
       {sql_exact_sum_dec(SQL_REVENUE_DEC)} AS total_revenue,
       ROUND({sql_exact_sum_dec(f"CASE WHEN supp_nation = 'NATION_12' THEN {SQL_REVENUE_DEC} ELSE CAST(0 AS DECIMAL(18,4)) END")}
             / {sql_exact_sum_dec(SQL_REVENUE_DEC)}, 6) AS market_share
FROM base
GROUP BY o_year
"""


# ---------------------------------------------------------------------------
# TPC-H Q13: customer order-count distribution.
# ---------------------------------------------------------------------------

def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of customers by order count — the double aggregation
    (outer-join count per customer, then histogram). Customers with no
    orders land in the 0 bucket via the left join."""
    tune(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_ORACLE_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# TPC-H Q15: top supplier(s) by revenue — agg + max-of-agg.
# ---------------------------------------------------------------------------

def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers achieving the maximum quarterly revenue: aggregate, then
    filter against the max of the aggregate (a 1-row broadcast, not a
    rank-the-world sort)."""
    tune(spark)
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    per_supp = li.groupBy("l_suppkey").agg(
        exact_sum_dec(revenue_dec()).alias("total_revenue")
    )
    max_rev = per_supp.agg(F.max("total_revenue").alias("m"))
    return (
        per_supp.join(F.broadcast(max_rev), per_supp.total_revenue == F.col("m"))
        .join(supp, per_supp.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


_ORACLE_Q15 = f"""
WITH revenue AS (
  SELECT l_suppkey, {sql_exact_sum_dec(SQL_REVENUE_DEC)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


# ---------------------------------------------------------------------------
# TPC-H Q17: small-quantity-order revenue — correlated agg subquery.
# ---------------------------------------------------------------------------

def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines with quantity below 50% of their part's average quantity —
    the correlated aggregate decorrelated into a join against a per-part
    aggregate (exactly what Catalyst does to the SQL form)."""
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
        F.count("*").alias("n_part_lines"),
    )
    # qty < sum/(2n) expressed division-free (decimal division scales differ
    # across engines; cross-multiplication stays exact): 2n·qty < sum
    below_half_avg = (
        F.col("l_quantity").cast("decimal(18,2)") * 2 * F.col("n_part_lines")
        < F.col("sum_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("pk"))
        .filter(below_half_avg)
        .agg(
            exact_sum_dec(F.col("l_extendedprice").cast("decimal(12,2)")).alias(
                "total_price"
            ),
            F.count("*").alias("n_lines"),
        )
    )


_ORACLE_Q17 = f"""
WITH per_part AS (
  SELECT l_partkey AS pk,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
         count(*) AS n_part_lines
  FROM lineitem GROUP BY l_partkey)
SELECT {sql_exact_sum_dec("CAST(l_extendedprice AS DECIMAL(12,2))")} AS total_price,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN per_part ON l_partkey = pk
WHERE p_brand = 'Brand#23'
  AND CAST(l_quantity AS DECIMAL(18,2)) * 2 * n_part_lines < sum_qty
"""


# ---------------------------------------------------------------------------
# TPC-H Q22: global sales opportunity — anti-join + scalar subquery.
# ---------------------------------------------------------------------------

def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-balance customers with no PENDING ('P') orders, grouped by a
    derived key bucket: scalar-subquery threshold + anti join. (Restricted
    to 'P' orders because in this dataset every customer has *some* order —
    an unrestricted anti join would be vacuous.)"""
    tune(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "P"
    )
    # bal > avg expressed division-free: bal·n > sum (exact decimals)
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("sum_pos"),
        F.count("*").alias("n_pos"),
    )
    rich = (
        cust.crossJoin(F.broadcast(pos))
        .filter(
            F.col("c_acctbal").cast("decimal(18,2)") * F.col("n_pos")
            > F.col("sum_pos")
        )
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    )
    return (
        rich.groupBy((F.col("c_custkey") % 10).alias("cust_bucket"))
        .agg(
            F.count("*").alias("numcust"),
            exact_sum_dec(F.col("c_acctbal").cast("decimal(18,2)")).alias("totacctbal"),
        )
        .orderBy("cust_bucket")
    )


_ORACLE_Q22 = f"""
SELECT c_custkey % 10 AS cust_bucket,
       count(*) AS numcust,
       {sql_exact_sum_dec("CAST(c_acctbal AS DECIMAL(18,2))")} AS totacctbal
FROM customer c
WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
      (SELECT count(*) FROM customer WHERE c_acctbal > 0) >
      (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Two-phase salted aggregation — the skew-mitigation pattern, verified
# equal to the direct aggregation.
# ---------------------------------------------------------------------------

N_SALTS = 8


def q_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key defense spelled out: phase 1 aggregates on (key, salt) —
    spreading any single hot key over N_SALTS reducers — phase 2 merges
    the partials per key. Results are identical to a direct groupBy (the
    oracle is the direct form); only the shuffle layout differs. AQE's
    skew handling does this adaptively for joins; for aggregations with a
    known-hot key this is the manual pattern."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("salt", F.col("event_id") % N_SALTS)
    phase1 = salted.groupBy("event_type", "salt").agg(
        F.count("*").alias("pc"),
        F.sum(F.col("value").cast("decimal(25,4)")).alias("ps"),
    )
    return (
        phase1.groupBy("event_type")
        .agg(
            F.sum("pc").alias("n_events"),
            F.round(F.sum("ps"), 2).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


_ORACLE_SALTED = """
SELECT event_type, count(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(25,4))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Unpivot (stack) — wide → long.
# ---------------------------------------------------------------------------

def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot lineitem's measure columns into (measure, value) rows via
    ``stack`` — the wide→long reshape; the inverse of pivot."""
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    long = li.selectExpr(
        "l_returnflag",
        "stack(3, 'quantity', CAST(l_quantity AS DECIMAL(18,2)),"
        " 'price', CAST(l_extendedprice AS DECIMAL(18,2)),"
        " 'discount', CAST(l_discount AS DECIMAL(18,2))) AS (measure, val)",
    )
    return (
        long.groupBy("l_returnflag", "measure")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("val"), 2).cast("double").alias("total"),
        )
    )


_ORACLE_UNPIVOT = """
WITH long AS (
  SELECT l_returnflag, 'quantity' AS measure, CAST(l_quantity AS DECIMAL(18,2)) AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'price', CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'discount', CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
)
SELECT l_returnflag, measure, count(*) AS n,
       CAST(ROUND(SUM(val), 2) AS DOUBLE) AS total
FROM long
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Map-typed columns: build, explode, aggregate.
# ---------------------------------------------------------------------------

def q_map_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column lifecycle: build a map per order from its lines
    (linenumber → partkey via map_from_entries), explode it back, and
    aggregate — certifies the map container round-trips losslessly."""
    tune(spark)
    # duplicate map keys resolve to the LAST entry of the sorted struct
    # array = the max partkey for that key (oracle mirrors with max())
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        # duplicate linenumbers exist: disambiguate the map key
                        (F.col("l_linenumber") * 1000 + F.col("l_partkey") % 1000).alias("k"),
                        F.col("l_partkey").alias("v"),
                    )
                )
            )
        ).alias("line_map")
    )
    exploded = per_order.select(
        "l_orderkey", F.explode("line_map").alias("k", "partkey")
    )
    return exploded.groupBy("l_orderkey").agg(
        F.count("*").alias("n_entries"),
        F.sum("partkey").cast("bigint").alias("sum_partkeys"),
        F.min("k").alias("min_key"),
    )


_ORACLE_MAP = """
WITH keyed AS (
  SELECT l_orderkey,
         l_linenumber * 1000 + l_partkey % 1000 AS k,
         l_partkey
  FROM lineitem
),
dedup AS (  -- LAST_WIN over the (k,v)-sorted entries = max partkey per key
  SELECT l_orderkey, k, max(l_partkey) AS partkey
  FROM keyed
  GROUP BY l_orderkey, k
)
SELECT l_orderkey, count(*) AS n_entries,
       CAST(sum(partkey) AS BIGINT) AS sum_partkeys,
       CAST(min(k) AS BIGINT) AS min_key
FROM dedup
GROUP BY l_orderkey
"""


def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal function surface: datediff, date_add, date_trunc, and
    day-of-week over the order→ship timeline, aggregated into a shipping
    delay profile. Day-of-week is normalized to Spark's 1=Sunday
    convention (DuckDB's dayofweek is 0-based — the oracle adds 1)."""
    tune(spark)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # The three order-date-only expressions (dow, the two date_format
    # strings) evaluate on the ORDERS side before the join — |orders|
    # evaluations instead of |lineitem| (~4x fewer; date_format is the
    # expensive one), and the probe side of the join stays two columns.
    # Only the per-line delay is computed post-join. Same rows, same
    # values — the guide §2.3 "project before the exchange" rule applied
    # to expression placement.
    o_pre = orders.select(
        "o_orderkey",
        "o_orderdate",
        F.dayofweek("o_orderdate").alias("order_dow"),
        F.date_format(F.date_add("o_orderdate", 30), "yyyy-MM-dd").alias("due_date"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("order_month"),
    )
    j = li.select("l_orderkey", "l_shipdate").join(
        o_pre, F.col("l_orderkey") == F.col("o_orderkey")
    )
    delay = F.datediff("l_shipdate", "o_orderdate")
    return (
        j.select(
            (delay - (delay % 30)).alias("delay_bucket_days"),
            "order_dow",
            "due_date",
            "order_month",
        )
        .groupBy("delay_bucket_days", "order_dow")
        .agg(
            F.count("*").alias("n_lines"),
            F.min("due_date").alias("min_due_date"),
            F.countDistinct("order_month").alias("n_months"),
        )
    )


_ORACLE_DATE_FUNCS = """
WITH j AS (
  SELECT date_diff('day', o_orderdate, l_shipdate) AS delay,
         dayofweek(o_orderdate) + 1 AS order_dow,
         strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
         strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT CAST(delay - (delay % 30) AS INT) AS delay_bucket_days,
       CAST(order_dow AS INT) AS order_dow,
       count(*) AS n_lines,
       min(due_date) AS min_due_date,
       count(DISTINCT order_month) AS n_months
FROM j
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Market-basket association mining: brand pairs co-purchased within an order,
# with support / confidence / lift — the a-priori first pass.
# ---------------------------------------------------------------------------

MIN_PAIR_ORDERS = 10  # a-priori support threshold (absolute basket count)


def _brand_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, brands sorted-distinct) — the shared front half of the
    basket-mining and co-occurrence-graph operators."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.select("l_orderkey", "l_partkey")
        .join(part.select("p_partkey", "p_brand"), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
    )


_PAIR_EXPAND = (
    "flatten(transform(brands, (x, i) ->"
    " transform(slice(brands, i + 2, size(brands)),"
    " y -> struct(x AS a, y AS b))))"
)


def _triangles(edges: DataFrame) -> DataFrame:
    """(a,b,c) triangles of an oriented (a<b) edge table via the
    orientation method — wedges from the shared middle vertex, closed by
    an (a,c) hash-join existence check. Shared by q_graph_triangle_count
    and the K4 pin in tests (so the test exercises THIS join logic, not a
    copy)."""
    e2 = edges.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    wedges = edges.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    e3 = edges.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    return wedges.join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    ).select("a", "b", "c")


def q_basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent brand-pair mining over order baskets (support, both
    confidences, lift). Baskets are the distinct brands per order; pairs
    are generated per basket by a NARROW array expression over the sorted
    brand set (collect_set → sorted array → index-pair expansion) — one
    shuffle on l_orderkey, no self-join of the fact against itself. The
    pair space then partial-aggregates map-side to ≤ |brands|² rows, and
    the per-brand basket counts join onto that tiny table.

    At 100 TB mining raw part keys instead of brands, the same plan holds
    with an a-priori pruning pass first (drop items below MIN_PAIR_ORDERS
    support before pair expansion — any pair containing an infrequent item
    is itself infrequent, so the prune is lossless for the final cut);
    baskets are bounded (items per order), so pair expansion is
    O(basket²) per row, never corpus×corpus."""
    tune(spark)
    # pin: three branches (pair expansion, item counts, n_orders) read
    # the basket table — without it each branch re-runs the lineitem⋈part
    # join + orderkey aggregate (verified: 4 orderkey exchanges, 8 scans).
    # pin() registers the handle so release_pins() (test teardown / bench
    # inter-query) frees executor storage instead of waiting on LRU.
    baskets = pin(_brand_baskets(spark, sf_dir))
    pairs = baskets.select(
        "l_orderkey", F.explode(F.expr(_PAIR_EXPAND)).alias("p")
    ).select("l_orderkey", "p.a", "p.b")
    pair_counts = (
        pairs.groupBy("a", "b")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= MIN_PAIR_ORDERS)
    )
    item_counts = baskets.select(
        "l_orderkey", F.explode("brands").alias("brand")
    ).groupBy("brand").agg(F.count("*").alias("n_item"))
    n_orders = F.broadcast(baskets.agg(F.count("*").alias("n_orders")))
    ca = item_counts.select(
        F.col("brand").alias("a"), F.col("n_item").alias("c_a")
    )
    cb = item_counts.select(
        F.col("brand").alias("b"), F.col("n_item").alias("c_b")
    )
    return (
        pair_counts.join(ca, "a")
        .join(cb, "b")
        .crossJoin(n_orders)
        .select(
            F.col("a").alias("brand_a"),
            F.col("b").alias("brand_b"),
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.round(F.col("n_pair").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("n_pair").cast("double") / F.col("c_a"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(F.col("n_pair").cast("double") / F.col("c_b"), 6).alias(
                "conf_b_to_a"
            ),
            F.round(
                (F.col("n_pair") * F.col("n_orders")).cast("double")
                / (F.col("c_a") * F.col("c_b")),
                6,
            ).alias("lift"),
        )
    )


_ORACLE_BASKET = f"""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT p_brand)) AS brands
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY l_orderkey
),
items AS (SELECT l_orderkey, unnest(brands) AS brand FROM baskets),
-- pair generation via an unnest self-join on the basket key: brands are
-- DISTINCT per basket, so ua.brand < ub.brand enumerates each unordered
-- pair exactly once with NO bound on basket size (the former static
-- range(1,26) grid silently dropped pairs past 25 brands)
pairs AS (
  SELECT ua.l_orderkey, ua.brand AS a, ub.brand AS b
  FROM items ua JOIN items ub
    ON ua.l_orderkey = ub.l_orderkey AND ua.brand < ub.brand
),
pair_counts AS (
  SELECT a, b, count(*) AS n_pair FROM pairs GROUP BY a, b
  HAVING count(*) >= {MIN_PAIR_ORDERS}
),
item_counts AS (
  SELECT brand, count(*) AS n_item
  FROM (SELECT l_orderkey, unnest(brands) AS brand FROM baskets)
  GROUP BY brand
),
tot AS (SELECT count(*) AS n_orders FROM baskets)
SELECT p.a AS brand_a, p.b AS brand_b,
       CAST(p.n_pair AS BIGINT) AS n_pair,
       ROUND(CAST(p.n_pair AS DOUBLE) / tot.n_orders, 6) AS support,
       ROUND(CAST(p.n_pair AS DOUBLE) / ca.n_item, 6) AS conf_a_to_b,
       ROUND(CAST(p.n_pair AS DOUBLE) / cb.n_item, 6) AS conf_b_to_a,
       ROUND(CAST(p.n_pair * tot.n_orders AS DOUBLE) / (ca.n_item * cb.n_item), 6)
         AS lift
FROM pair_counts p
JOIN item_counts ca ON ca.brand = p.a
JOIN item_counts cb ON cb.brand = p.b
CROSS JOIN tot
"""


# Edge rule for ALL graph entries: the TOP_EDGES strongest co-occurrence
# pairs, ordered by (support DESC, a, b) — deterministic total order, so
# both engines select the identical edge set. Round 11 replaced the
# absolute support cut after measuring that it saturates the 25-brand
# graph to the COMPLETE K25 at every SF (all 300 pairs pass n ≥ 10: min
# support 8/196/2862 at sf0.001/0.01/0.1), which made every topology
# output structurally forced — degree ≡ 24, triangles ≡ C(24,2),
# clustering ≡ 1.0, one label-prop community — oracle-exact but
# topologically vacuous. The mean-relative cut (kcore's old 1.1×mean
# rule) fails the OTHER way: pair supports concentrate around the mean
# as data grows, so it kept 109/81/4 edges across the three SFs — a
# 4-edge graph at the benchmark scale. The support-top-K rule is the
# scale-stable selection (always TOP_EDGES edges, measured degree range
# 1-23 with σ≈6 at every SF), and it is cheap at any data size: the pair
# table is bounded by |brands|² rows regardless of corpus size, so the
# ORDER BY + LIMIT is a TakeOrderedAndProject over ≤ 625 rows.
TOP_EDGES = 120


def _brand_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned brand co-occurrence edge list: the TOP_EDGES pairs by
    (support DESC, a, b) — the ONE graph construction shared by the
    triangle, label-propagation, link-prediction, Katz, and k-core
    entries (extracted so a threshold or shape change cannot silently
    diverge between them). See the TOP_EDGES comment for why top-K is
    the only scale-stable rule here."""
    return pin(
        _brand_baskets(spark, sf_dir)
        .select(F.explode(F.expr(_PAIR_EXPAND)).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "a", "b")
        .limit(TOP_EDGES)
        .select("a", "b")
    )


def _brand_adj(edges: DataFrame) -> DataFrame:
    """Symmetrized (src, dst) adjacency over an a<b edge list."""
    return edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))


def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting + local clustering coefficient over the
    brand co-occurrence graph (edge = one of the TOP_EDGES strongest
    co-occurring brand pairs) — the canonical distributed graph-analytics kernel after
    PageRank/connected-components (both elsewhere in the registry).

    Orientation method: edges are stored once as a<b, wedges come from
    edges(a,b) ⋈ edges(b,c) on the shared middle vertex (a<b<c holds by
    construction so each triangle is enumerated exactly once), and the
    closing edge (a,c) is a hash-join existence check — three equi-joins,
    no enumeration of non-edges. At web scale the standard refinement is
    ordering vertices by (degree, id) instead of id so every wedge pivot
    has low degree, bounding the join fan-out; same plan, different sort
    key. Per-node counts then come from one explode over the 3 corners."""
    tune(spark)
    # pin: the edge table feeds five branches (both wedge sides, the
    # closing join, and degree twice) — uncached, each re-runs the whole
    # mining pipeline (verified before the fix: 5× basket aggregation);
    # pinned so release_pins() can free the storage explicitly.
    edges = _brand_edges(spark, sf_dir)
    tri = _triangles(edges)
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("brand")
    ).groupBy("brand").agg(F.count("*").alias("n_triangles"))
    deg = (
        edges.select(F.col("a").alias("brand"))
        .unionAll(edges.select(F.col("b").alias("brand")))
        .groupBy("brand")
        .agg(F.count("*").alias("degree"))
    )
    return deg.join(corners, "brand", "left").select(
        "brand",
        F.col("degree").cast("bigint").alias("degree"),
        F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
        F.when(F.col("degree") < 2, F.lit(0.0))
        .otherwise(
            F.round(
                (2 * F.coalesce("n_triangles", F.lit(0))).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            )
        )
        .alias("clustering_coeff"),
    )


_ORACLE_TRIANGLES = f"""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT p_brand)) AS brands
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY l_orderkey
),
items AS (SELECT l_orderkey, unnest(brands) AS brand FROM baskets),
-- unbounded pair enumeration (see basket oracle): unnest self-join on the
-- basket key replaces the former size-capped static index grid
edges AS (
  SELECT a, b FROM (
    SELECT ua.brand AS a, ub.brand AS b, count(*) AS n
    FROM items ua JOIN items ub
      ON ua.l_orderkey = ub.l_orderkey AND ua.brand < ub.brand
    GROUP BY 1, 2
  ) ORDER BY n DESC, a, b LIMIT {TOP_EDGES}
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM edges e1
  JOIN edges e2 ON e1.b = e2.a
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT brand, count(*) AS n_triangles FROM (
    SELECT unnest([a, b, c]) AS brand FROM tri
  ) GROUP BY brand
),
deg AS (
  SELECT brand, count(*) AS degree FROM (
    SELECT a AS brand FROM edges UNION ALL SELECT b AS brand FROM edges
  ) GROUP BY brand
)
SELECT deg.brand,
       CAST(deg.degree AS BIGINT) AS degree,
       CAST(coalesce(corners.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.degree < 2 THEN 0.0
            ELSE ROUND(CAST(2 * coalesce(corners.n_triangles, 0) AS DOUBLE)
                       / (deg.degree * (deg.degree - 1)), 6) END
         AS clustering_coeff
FROM deg LEFT JOIN corners USING (brand)
"""


# Incremental-view-maintenance cutoff: rows dated before it are the
# materialized "base" snapshot, rows at/after it are the CDC delta batch.
IVM_CUTOFF = "1997-06-01"


def q_join_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN aggregate — the algebra behind
    every materialized view refresh (Delta Live Tables, Materialize,
    classic IVM literature): with base relations A (orders) and B
    (lineitem) and new delta batches dA/dB arriving after ``IVM_CUTOFF``,

        (A ∪ dA) ⋈ (B ∪ dB) = A⋈B  ∪  dA⋈B  ∪  A⋈dB  ∪  dA⋈dB

    so the refreshed aggregate = the MATERIALIZED partials of A⋈B merged
    with partials computed from only the three delta terms — the raw
    pre-cutoff fact data is never re-joined against itself. This entry
    computes the view that way (four branch aggregates union-merged into
    a final rollup per order priority), while the DuckDB oracle computes
    the flat join-then-aggregate over everything; their equality is the
    proof the delta decomposition is lossless.

    Scale shape: each branch is a keyed equi-join on l_orderkey with
    map-side partial aggregation before the merge. In production dA/dB
    are a few minutes of CDC (tiny → broadcast), so refresh cost is
    O(|delta| + |view|), independent of |base| — THE reason IVM exists at
    100 TB. Here the halves are comparable (no tiny side to broadcast),
    which exercises the general shape; every join stays keyed, never
    all-pairs, and the decimal revenue discipline keeps the partial-merge
    bit-exact in any merge order."""
    tune(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", revenue_dec().alias("rev")
    )
    a = orders.filter(F.col("o_orderdate") < IVM_CUTOFF)
    da = orders.filter(F.col("o_orderdate") >= IVM_CUTOFF)
    b = li.filter(F.col("l_shipdate") < IVM_CUTOFF)
    db = li.filter(F.col("l_shipdate") >= IVM_CUTOFF)

    def partials(o, l):  # noqa: E741 - l is the lineitem side
        return (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("p_items"),
                F.sum("rev").alias("p_rev"),
            )
        )

    merged = (
        partials(a, b)  # the materialized view's stored partials
        .unionAll(partials(da, b))  # delta-A against base-B
        .unionAll(partials(a, db))  # base-A against delta-B
        .unionAll(partials(da, db))  # delta-delta corner
    )
    return merged.groupBy("o_orderpriority").agg(
        F.sum("p_items").cast("bigint").alias("n_items"),
        exact_sum_dec(F.col("p_rev")).alias("revenue"),
    )


_ORACLE_IVM = f"""
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       {sql_exact_sum_dec(SQL_REVENUE_DEC)} AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""


def q_orders_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline query) per order priority: the orders
    not dominated on (earlier-or-equal date, strictly higher price) by any
    other order of the same priority — i.e. each one set a new running
    price record when it arrived. Skyline is a real OLAP operator (best
    price-vs-freshness tradeoffs, cost-vs-latency frontiers) whose naive
    form is the O(n²) NOT-EXISTS dominance self-join.

    Plan: the 2-D case collapses to ONE window — sort each priority
    partition by day and keep rows whose price equals the running max
    (default RANGE frame, so same-day peers share the max and ties all
    qualify). One exchange on o_orderpriority, no self-join; the n²
    dominance check exists only in tests. Prices pass through untouched
    (comparison only, no float arithmetic), so cross-engine equality is
    byte-exact."""
    tune(spark)
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_day"),
        F.col("o_totalprice").alias("price"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("order_day")
    return (
        o.withColumn("run_max", F.max("price").over(w))
        .filter(F.col("price") == F.col("run_max"))
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.col("order_day").cast("string").alias("order_day"),
            "price",
        )
    )


_ORACLE_PARETO = """
SELECT o_orderpriority, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day,
       price
FROM (
  SELECT o_orderpriority, o_orderkey, o_orderdate,
         o_totalprice AS price,
         max(o_totalprice) OVER (PARTITION BY o_orderpriority
                                 ORDER BY CAST(o_orderdate AS DATE)) AS run_max
  FROM orders
)
WHERE price = run_max
"""


# Label-propagation community detection: LABEL_PROP_ROUNDS synchronized
# rounds over the brand co-occurrence graph (same edges as the triangle
# entry). Label(v) <- the most frequent label among v's neighbors,
# min-label tiebreak — fully deterministic, so both engines walk identical
# label states round by round.
LABEL_PROP_ROUNDS = 2


def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation (Raghavan et
    al. 2007) on the brand co-occurrence graph — the third graph kernel
    after PageRank and connected components, and the standard cheap
    community assignment at web scale (GraphFrames/GraphX ship exactly
    this algorithm).

    Plan: per round, ONE join of the (src,dst)-symmetrized edge list to
    the current label table on dst, then a (src, label) count and a
    deterministic argmax (row_number over the src-partitioned votes,
    count desc / label asc). Labels start as each node's own brand string.
    Edges are |brands|² bounded here; at node scale the same two
    exchanges per round hold, with the label table partitioned by node id
    and the rounds driven by a bounded unrolled loop exactly as the
    PageRank entry argues (relational3 docstring there). Output: node,
    final community, community size."""
    tune(spark)
    edges = _brand_edges(spark, sf_dir)
    adj = _brand_adj(edges)
    labels = adj.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LABEL_PROP_ROUNDS):
        votes = (
            adj.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("nbr_label")
                ),
                "dst",
            )
            .groupBy("src", "nbr_label")
            .agg(F.count("*").alias("cnt"))
        )
        # deterministic argmax: max count, then MIN label — a row_number
        # over the (src)-partitioned votes (DuckDB's min_by can't order by
        # a composite key, so both engines rank identically instead)
        from pyspark.sql import Window

        wv = Window.partitionBy("src").orderBy(
            F.desc("cnt"), F.asc("nbr_label")
        )
        labels = (
            votes.withColumn("rk", F.row_number().over(wv))
            .filter(F.col("rk") == 1)
            .select(F.col("src").alias("node"), F.col("nbr_label").alias("label"))
        )
    sizes = labels.groupBy("label").agg(
        F.count("*").cast("bigint").alias("community_size")
    )
    return labels.join(sizes, "label").select(
        "node",
        F.col("label").alias("community"),
        "community_size",
    )


_SQL_BRAND_EDGES_CTES = f"""baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT p_brand)) AS brands
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY l_orderkey
),
items AS (SELECT l_orderkey, unnest(brands) AS brand FROM baskets),
edges AS (
  SELECT a, b FROM (
    SELECT ua.brand AS a, ub.brand AS b, count(*) AS n
    FROM items ua JOIN items ub
      ON ua.l_orderkey = ub.l_orderkey AND ua.brand < ub.brand
    GROUP BY 1, 2
  ) ORDER BY n DESC, a, b LIMIT {TOP_EDGES}
)"""


# ---------------------------------------------------------------------------
# k-core decomposition by iterative peeling (Seidman 1983; the distributed
# formulation follows Montresor et al. 2013): repeatedly drop nodes with
# degree < k and the edges touching them. The loop is UNROLLED to a fixed
# round count so the whole computation is one declarative plan with an
# exactly-mirrored SQL twin (the same fixed-unroll discipline as Katz and
# label propagation). Round 11 moved the edge set onto the shared
# support-top-K rule (_brand_edges): its former RELATIVE cut (pair count
# > 1.1× mean) was measured to degenerate at scale — pair supports
# concentrate around the mean as data grows, leaving 109/81/4 edges at
# sf0.001/0.01/0.1, i.e. a 4-edge graph at the benchmark SF where the
# 3-core is empty. Top-K keeps a fixed-size, degree-varied graph at
# every SF (see the TOP_EDGES comment).
KCORE_K = 3
KCORE_ROUNDS = 3


def q_graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_ROUNDS}-round k-core peel (k = {KCORE_K}) of the strong
    brand co-occurrence graph: per node, its original degree, its degree
    in the peeled subgraph, and whether it sits in the (round-bounded)
    k-core.

    Scale shape (r15): the graph is TOP_EDGES-bounded BY CONSTRUCTION —
    120 edges / 240 symmetrized rows regardless of corpus size — so the
    whole peel is metadata-sized state and folds into ONE expression over
    a collected adjacency array (the same bounded-domain fold rule as the
    r14 MMR selection; SCALE.md records when the fold applies). The
    former shape paid, per round, a pinned degree aggregate plus two
    broadcast semi-joins of the 240-row adjacency — 3 pin
    materialization jobs and 6 broadcast builds of distributed machinery
    over metadata. Each fold round recomputes per-node degrees with
    ``size(filter(...))`` and keeps nodes with degree ≥ k — integer
    arithmetic, identical to the aggregate/semi-join form. The
    data-sized part (basket mining → top-K edges) is untouched: at any
    scale the peel's input is the bounded edge list, never the corpus.
    A peel over a DATA-sized adjacency must keep the aggregate +
    semi-join rounds (see the CC entry) — this fold is valid only
    because TOP_EDGES bounds the domain."""
    # Spark's sequence() counts down when start > stop: KCORE_ROUNDS = 0
    # would run the peel over [1, 0], two rounds instead of none.
    if KCORE_ROUNDS < 1:
        raise ValueError("KCORE_ROUNDS must be >= 1: the peel fold iterates sequence(1, KCORE_ROUNDS)")
    tune(spark)
    adj = _brand_adj(_brand_edges(spark, sf_dir))
    one = adj.agg(F.collect_list(F.struct("src", "dst")).alias("a0"))

    def _peel(cur):
        keep = F.filter(
            F.array_distinct(F.transform(cur, lambda e: e["src"])),
            lambda s: F.size(F.filter(cur, lambda e: e["src"] == s))
            >= F.lit(KCORE_K),
        )
        return F.filter(
            cur,
            lambda e: F.array_contains(keep, e["src"])
            & F.array_contains(keep, e["dst"]),
        )

    folded = F.aggregate(
        F.sequence(F.lit(1), F.lit(KCORE_ROUNDS)),
        F.col("a0"),
        lambda acc, _r: _peel(acc),
    )
    withf = one.select("a0", folded.alias("af"))
    nodes = F.array_distinct(F.transform(F.col("a0"), lambda e: e["src"]))
    per_node = F.transform(
        nodes,
        lambda s: F.struct(
            s.alias("node"),
            F.size(F.filter(F.col("a0"), lambda e: e["src"] == s))
            .cast("bigint")
            .alias("degree0"),
            F.size(F.filter(F.col("af"), lambda e: e["src"] == s))
            .cast("bigint")
            .alias("final_degree"),
        ),
    )
    return withf.select(F.explode(per_node).alias("s")).select(
        F.col("s.node").alias("node"),
        F.col("s.degree0").alias("degree0"),
        F.col("s.final_degree").alias("final_degree"),
        (F.col("s.final_degree") >= KCORE_K).cast("int").alias("in_kcore"),
    )


def _kcore_oracle() -> str:
    rounds = []
    prev = "adj0"
    for r in range(1, KCORE_ROUNDS + 1):
        rounds.append(
            f"""k{r} AS (
  SELECT src FROM (SELECT src, count(*) AS d FROM {prev} GROUP BY 1)
  WHERE d >= {KCORE_K}
),
adj{r} AS (
  SELECT a.src, a.dst FROM {prev} a
  JOIN k{r} s ON a.src = s.src JOIN k{r} t ON a.dst = t.src
)"""
        )
        prev = f"adj{r}"
    chain = ",\n".join(rounds)
    return f"""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT p_brand)) AS brands
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY l_orderkey
),
items AS (SELECT l_orderkey, unnest(brands) AS brand FROM baskets),
pc AS (
  SELECT ua.brand AS a, ub.brand AS b, count(*) AS n
  FROM items ua JOIN items ub
    ON ua.l_orderkey = ub.l_orderkey AND ua.brand < ub.brand
  GROUP BY 1, 2
),
edges AS (SELECT a, b FROM pc ORDER BY n DESC, a, b LIMIT {TOP_EDGES}),
adj0 AS (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL SELECT b AS src, a AS dst FROM edges
),
{chain},
deg0 AS (SELECT src, count(*) AS deg0 FROM adj0 GROUP BY 1),
degf AS (SELECT src, count(*) AS degf FROM {prev} GROUP BY 1)
SELECT deg0.src AS node,
       CAST(deg0.deg0 AS BIGINT) AS degree0,
       CAST(coalesce(degf.degf, 0) AS BIGINT) AS final_degree,
       CASE WHEN coalesce(degf.degf, 0) >= {KCORE_K} THEN 1 ELSE 0 END
         AS in_kcore
FROM deg0 LEFT JOIN degf ON deg0.src = degf.src
"""


_ORACLE_KCORE = _kcore_oracle()


_ORACLE_LABEL_PROP = f"""
WITH {_SQL_BRAND_EDGES_CTES},
adj AS (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL SELECT b AS src, a AS dst FROM edges
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM adj),
v1 AS (
  SELECT adj.src, l0.label AS nbr_label, count(*) AS cnt
  FROM adj JOIN l0 ON adj.dst = l0.node
  GROUP BY 1, 2
),
l1 AS (
  SELECT src AS node, nbr_label AS label FROM (
    SELECT src, nbr_label,
           row_number() OVER (PARTITION BY src
                              ORDER BY cnt DESC, nbr_label ASC) AS rk
    FROM v1) WHERE rk = 1
),
v2 AS (
  SELECT adj.src, l1.label AS nbr_label, count(*) AS cnt
  FROM adj JOIN l1 ON adj.dst = l1.node
  GROUP BY 1, 2
),
l2 AS (
  SELECT src AS node, nbr_label AS label FROM (
    SELECT src, nbr_label,
           row_number() OVER (PARTITION BY src
                              ORDER BY cnt DESC, nbr_label ASC) AS rk
    FROM v2) WHERE rk = 1
),
sizes AS (
  SELECT label, CAST(count(*) AS BIGINT) AS community_size
  FROM l2 GROUP BY label
)
SELECT l2.node, l2.label AS community, sizes.community_size
FROM l2 JOIN sizes USING (label)
"""


# Hub-degree cap for the common-neighbors wedge join (VERDICT r8 #4). A
# wedge (wa, c, wb) pairs up c's adjacency rows, so a hub with fan-in D
# contributes O(D^2) join rows; capping each shared endpoint's adjacency
# to the CAP smallest neighbors bounds that to O(CAP^2) per node at the
# cost of one partitioned row_number (O(D log D) — linearithmic sort
# instead of quadratic wedges, the standard approximate-CN trade). The cap
# is set far above the brand graph's maximum possible degree (|brands| − 1
# = 24 in TPC-H data), so on the registry data the filter keeps every row
# and the entry stays oracle-hash-exact; on a true hub graph it degrades
# to capped-neighborhood CN deterministically (smallest-neighbor rule,
# partition-layout independent).
CN_DEGREE_CAP = 64


def _capped_adj(adj: DataFrame, cap: int = CN_DEGREE_CAP) -> DataFrame:
    """Keep at most ``cap`` adjacency rows per shared endpoint (``dst``),
    deterministically the ``cap`` smallest ``src`` values — bounds the
    wedge join's per-center fan-in."""
    w = Window.partitionBy("dst").orderBy("src")
    return (
        adj.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )


def _adj_for_wedges(
    adj: DataFrame, deg: DataFrame, cap: int = CN_DEGREE_CAP
) -> DataFrame:
    """Adjacency to feed the wedge join: the RAW adjacency when the
    measured max degree fits inside the cap, else the capped one.

    VERDICT r9 #2: ``_capped_adj`` pays a full-adjacency partitioned
    row_number sort on every run, but on a graph whose max degree is
    already <= cap it filters nothing. The gate is one one-row aggregate
    over the (tiny, already-needed) degree table — a control-plane scalar
    like the CC convergence check — and it keeps the adversarial-hub
    behavior intact: any dst over the cap re-enables the capped path."""
    row = deg.agg(F.max("degree").alias("max_deg")).first()
    max_deg = (row["max_deg"] if row is not None else 0) or 0
    return adj if max_deg <= cap else _capped_adj(adj, cap)


def q_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction features per edge: common-neighbor count and
    neighborhood Jaccard (the two classic similarity scores behind
    people-you-may-know / also-bought edges) over the brand co-occurrence
    graph. Jaccard of N(a)\\{b} vs N(b)\\{a} = common / (deg(a) + deg(b)
    − 2 − common), in exact integer ppm.

    Plan: common neighbors come from ONE wedge equi-join on the shared
    endpoint of the symmetrized edge list (a<b dedups each wedge), joined
    back to the edge list and the per-node degree table — never a
    neighborhood materialization per pair. At node scale this is the
    standard distributed CN/Jaccard recipe; hub mitigation is real (not a
    comment): when the measured max degree exceeds CN_DEGREE_CAP the wedge
    join reads the capped adjacency (``_capped_adj``), so a hub center
    contributes O(cap^2) wedges instead of O(degree^2); when it doesn't
    (one broadcast scalar off the degree table, VERDICT r9 #2) the
    row_number sort is skipped entirely. Degrees stay exact (cheap
    uncapped groupBy); with the cap above this graph's max degree the
    whole output is exact."""
    tune(spark)
    edges = _brand_edges(spark, sf_dir)
    adj = _brand_adj(edges)
    deg = pin(
        adj.groupBy("src").agg(F.count("*").cast("bigint").alias("degree"))
    )
    capped = _adj_for_wedges(adj, deg)
    x = capped.select(F.col("src").alias("wa"), F.col("dst").alias("c"))
    y = capped.select(F.col("src").alias("wb"), F.col("dst").alias("c"))
    cn = (
        x.join(y, "c")
        .filter(F.col("wa") < F.col("wb"))
        .groupBy("wa", "wb")
        .agg(F.count("*").cast("bigint").alias("common"))
    )
    da = deg.select(F.col("src").alias("a"), F.col("degree").alias("degree_a"))
    db = deg.select(F.col("src").alias("b"), F.col("degree").alias("degree_b"))
    out = (
        edges.join(
            cn,
            (F.col("a") == F.col("wa")) & (F.col("b") == F.col("wb")),
            "left",
        )
        .join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("brand_a"),
            F.col("b").alias("brand_b"),
            F.coalesce("common", F.lit(0)).cast("bigint").alias("common_neighbors"),
            "degree_a",
            "degree_b",
        )
    )
    denom = F.col("degree_a") + F.col("degree_b") - 2 - F.col("common_neighbors")
    return out.withColumn(
        "jaccard_ppm",
        F.when(denom > 0, F.expr(
            "CAST((1000000 * common_neighbors)"
            " DIV (degree_a + degree_b - 2 - common_neighbors) AS BIGINT)"
        )).otherwise(F.lit(0).cast("bigint")),
    )


_ORACLE_COMMON_NEIGHBORS = f"""
WITH {_SQL_BRAND_EDGES_CTES},
adj AS (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL SELECT b AS src, a AS dst FROM edges
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY src),
cn AS (
  SELECT x.src AS wa, y.src AS wb, CAST(count(*) AS BIGINT) AS common
  FROM adj x JOIN adj y ON x.dst = y.dst AND x.src < y.src
  GROUP BY 1, 2
)
SELECT e.a AS brand_a, e.b AS brand_b,
       CAST(coalesce(cn.common, 0) AS BIGINT) AS common_neighbors,
       da.degree AS degree_a, db.degree AS degree_b,
       CASE WHEN da.degree + db.degree - 2 - coalesce(cn.common, 0) > 0
            THEN CAST((1000000 * coalesce(cn.common, 0))
                      // (da.degree + db.degree - 2 - coalesce(cn.common, 0))
                      AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS jaccard_ppm
FROM edges e
LEFT JOIN cn ON e.a = cn.wa AND e.b = cn.wb
JOIN deg da ON da.src = e.a
JOIN deg db ON db.src = e.b
"""


def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction per edge (Adamic & Adar 2003, public):
    AA(a,b) = sum over common neighbors z of 1/ln(deg(z)) — the classic
    refinement of the common-neighbor count that discounts hub centers (a
    shared neighbor connected to everything carries little signal).
    Complements ``graph_common_neighbors`` (count + Jaccard): same wedge
    front, inverse-log center weighting instead of a flat count.

    Determinism: the per-center weight is INTEGER fixed point —
    floor(1e9 / ln(degree)) as BIGINT (the ``katz_x64`` convention) — so
    the aggregate is an exact integer sum, order-independent on both
    engines, instead of a float sum whose low bits depend on reduction
    order. tests/test_round13b_ops.py proves the floor is 1-ulp-safe for
    every degree this graph can produce.

    Plan shape at 100 TB: the weight attaches to the probe side BEFORE
    the wedge join (both join on the shared center ``c`` — exchange
    reuse), the wedge output partial-aggregates map-side into one
    (wa, wb) shuffle, and the score joins back to the TOP_EDGES edge
    list. Hub mitigation mirrors ``graph_common_neighbors``: over-cap
    centers read the capped adjacency, and TOP_EDGES bounds the whole
    graph regardless of corpus size."""
    tune(spark)
    edges = _brand_edges(spark, sf_dir)
    adj = _brand_adj(edges)
    deg = pin(
        adj.groupBy("src").agg(F.count("*").cast("bigint").alias("degree"))
    )
    capped = _adj_for_wedges(adj, deg)
    # degree >= 2: a degree-1 center cannot close a wedge (its single
    # adjacency row self-pairs and dies on wa < wb), and excluding it keeps
    # ln(1) = 0 out of the divisor on both engines
    degc = deg.filter(F.col("degree") >= 2).select(
        F.col("src").alias("c"),
        F.floor(F.lit(1_000_000_000) / F.log("degree")).cast("bigint").alias("w"),
    )
    x = capped.select(F.col("src").alias("wa"), F.col("dst").alias("c")).join(
        degc, "c"
    )
    y = capped.select(F.col("src").alias("wb"), F.col("dst").alias("c"))
    aa = (
        x.join(y, "c")
        .filter(F.col("wa") < F.col("wb"))
        .groupBy("wa", "wb")
        .agg(
            F.count("*").cast("bigint").alias("common"),
            F.sum("w").alias("aa_raw"),
        )
    )
    return edges.join(
        aa, (F.col("a") == F.col("wa")) & (F.col("b") == F.col("wb")), "left"
    ).select(
        F.col("a").alias("brand_a"),
        F.col("b").alias("brand_b"),
        F.coalesce("common", F.lit(0)).cast("bigint").alias("common_neighbors"),
        F.coalesce("aa_raw", F.lit(0)).cast("bigint").alias("aa_x9"),
    )


_ORACLE_ADAMIC_ADAR = f"""
WITH {_SQL_BRAND_EDGES_CTES},
adj AS (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL SELECT b AS src, a AS dst FROM edges
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY src),
degc AS (
  SELECT src AS c, CAST(floor(1000000000 / ln(degree)) AS BIGINT) AS w
  FROM deg WHERE degree >= 2
),
aa AS (
  SELECT x.src AS wa, y.src AS wb,
         CAST(count(*) AS BIGINT) AS common,
         CAST(sum(dw.w) AS BIGINT) AS aa_raw
  FROM adj x JOIN adj y ON x.dst = y.dst AND x.src < y.src
  JOIN degc dw ON dw.c = x.dst
  GROUP BY 1, 2
)
SELECT e.a AS brand_a, e.b AS brand_b,
       CAST(coalesce(aa.common, 0) AS BIGINT) AS common_neighbors,
       CAST(coalesce(aa.aa_raw, 0) AS BIGINT) AS aa_x9
FROM edges e
LEFT JOIN aa ON e.a = aa.wa AND e.b = aa.wb
"""


def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key defense for JOINS, spelled out (the join twin of
    `salted_aggregation`): the fact side salts its key with
    ``event_id % N_SALTS`` and the dimension side replicates each row
    N_SALTS times (a bounded Generate — |dim|×8 rows), so the equi-join
    runs on (key, salt) and a hot key's rows spread across N_SALTS
    reducers instead of melting one. Results are provably identical to
    the direct join (the oracle IS the direct join); only the shuffle
    layout differs. AQE's skew-join does this adaptively from runtime
    stats; this is the manual pattern for a KNOWN hot key — and the
    replicated-dim trick is also exactly how broadcast-unfriendly
    medium dims join skewed facts at 100 TB."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "salt", F.col("event_id") % N_SALTS
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)]))
        )
    )
    return (
        ev.join(
            dim,
            (ev.user_id == dim.c_custkey) & (ev.salt == dim.salt),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            exact_sum_dec(
                F.col("value").cast("decimal(25,4)")
            ).alias("sum_value"),
            F.min("user_id").cast("bigint").alias("min_user"),
        )
    )


_ORACLE_SALTED_JOIN = f"""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       {sql_exact_sum_dec("CAST(value AS DECIMAL(25,4))")} AS sum_value,
       CAST(min(user_id) AS BIGINT) AS min_user
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


# Truncated Katz centrality (Katz 1953): score(v) = Σ_l β^l · walks_l(v),
# walks_l = number of length-l walks ending at v (backtracking allowed —
# the standard walk count, NOT paths). Truncated at KATZ_L and with β a
# power of 1/2 the whole score is an exact INTEGER once scaled by
# (1/β)^KATZ_L: katz_x64 = 16·w1 + 4·w2 + w3 for β=1/4, L=3 — no float
# ever enters, so the oracle matches bit-for-bit including rank ties.
KATZ_L = 3
KATZ_INV_BETA = 4


def q_graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (truncated, exact-integer) per brand node — the
    walk-based influence score between degree (L=1) and PageRank
    (L→∞ with normalization), and the classic centrality a feature
    pipeline derives alongside CN/Jaccard for link prediction.

    Plan: walks_1 = degree (one groupBy over adjacency);
    walks_{l+1}(v) = Σ_{u∈N(v)} walks_l(u) — each step is ONE equi-join
    of the adjacency against the previous (node, count) table plus a
    partial-agg groupBy on the node key, i.e. the same bounded
    join-per-round shape as PageRank/LPA but with a FIXED unroll of
    KATZ_L−1 = 2 steps and no convergence scalar. At node scale each
    walk table partitions by node id and the adjacency is the only big
    input — it never re-derives (pinned upstream by _brand_edges).
    Skew note: a hub's walk count grows multiplicatively, but the JOIN
    fan-out per step is |edges|, not degree² — Katz is hub-safe where
    naive CN is not."""
    tune(spark)
    edges = _brand_edges(spark, sf_dir)
    adj = _brand_adj(edges)
    w1 = adj.groupBy("src").agg(F.count("*").alias("w")).select(
        F.col("src").alias("node"), F.col("w").alias("w1")
    )

    def next_walks(prev: DataFrame, out_col: str) -> DataFrame:
        return (
            adj.join(prev, adj["dst"] == prev["node"])
            .groupBy("src")
            .agg(F.sum(prev.columns[-1]).alias(out_col))
            .select(F.col("src").alias("node"), out_col)
        )

    w2 = next_walks(w1, "w2")
    w3 = next_walks(w2, "w3")
    scale2 = KATZ_INV_BETA  # β²·(1/β)³ = 1/β
    scale1 = KATZ_INV_BETA * KATZ_INV_BETA  # β·(1/β)³ = 1/β²
    return (
        w1.join(w2, "node")
        .join(w3, "node")
        .select(
            F.col("node").alias("brand"),
            F.col("w1").cast("bigint").alias("walks1"),
            F.col("w2").cast("bigint").alias("walks2"),
            F.col("w3").cast("bigint").alias("walks3"),
            (scale1 * F.col("w1") + scale2 * F.col("w2") + F.col("w3"))
            .cast("bigint")
            .alias("katz_x64"),
        )
    )


_ORACLE_KATZ = f"""
WITH {_SQL_BRAND_EDGES_CTES},
adj AS (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL SELECT b AS src, a AS dst FROM edges
),
w1 AS (SELECT src AS node, count(*) AS w1 FROM adj GROUP BY src),
w2 AS (
  SELECT adj.src AS node, sum(w1.w1) AS w2
  FROM adj JOIN w1 ON adj.dst = w1.node GROUP BY adj.src
),
w3 AS (
  SELECT adj.src AS node, sum(w2.w2) AS w3
  FROM adj JOIN w2 ON adj.dst = w2.node GROUP BY adj.src
)
SELECT node AS brand,
       CAST(w1.w1 AS BIGINT) AS walks1,
       CAST(w2.w2 AS BIGINT) AS walks2,
       CAST(w3.w3 AS BIGINT) AS walks3,
       CAST({KATZ_INV_BETA * KATZ_INV_BETA} * w1.w1
            + {KATZ_INV_BETA} * w2.w2 + w3.w3 AS BIGINT) AS katz_x64
FROM w1 JOIN w2 USING (node) JOIN w3 USING (node)
"""


QUERIES = {
    "graph_kcore_peel": q_graph_kcore_peel,
    "orders_pareto_frontier": q_orders_pareto_frontier,
    "graph_katz_centrality": q_graph_katz_centrality,
    "graph_common_neighbors": q_graph_common_neighbors,
    "join_salted_skew": q_join_salted_skew,
    "graph_label_prop": q_graph_label_prop,
    "join_incremental_delta": q_join_incremental_delta,
    "date_functions": q_date_functions,
    "tpch_q8_market_share": q_tpch_q8,
    "tpch_q13_order_distribution": q_tpch_q13,
    "tpch_q15_top_supplier": q_tpch_q15,
    "tpch_q17_small_qty_revenue": q_tpch_q17,
    "tpch_q22_sales_opportunity": q_tpch_q22,
    "salted_aggregation": q_salted_aggregation,
    "unpivot_measures": q_unpivot_measures,
    "map_columns_roundtrip": q_map_columns,
    "basket_brand_pairs": q_basket_brand_pairs,
    "graph_triangle_count": q_graph_triangle_count,
    "graph_adamic_adar": q_graph_adamic_adar,
}

ORACLE = {
    "graph_kcore_peel": _ORACLE_KCORE,
    "orders_pareto_frontier": _ORACLE_PARETO,
    "graph_katz_centrality": _ORACLE_KATZ,
    "graph_common_neighbors": _ORACLE_COMMON_NEIGHBORS,
    "join_salted_skew": _ORACLE_SALTED_JOIN,
    "graph_label_prop": _ORACLE_LABEL_PROP,
    "join_incremental_delta": _ORACLE_IVM,
    "date_functions": _ORACLE_DATE_FUNCS,
    "tpch_q8_market_share": _ORACLE_Q8,
    "tpch_q13_order_distribution": _ORACLE_Q13,
    "tpch_q15_top_supplier": _ORACLE_Q15,
    "tpch_q17_small_qty_revenue": _ORACLE_Q17,
    "tpch_q22_sales_opportunity": _ORACLE_Q22,
    "salted_aggregation": _ORACLE_SALTED,
    "unpivot_measures": _ORACLE_UNPIVOT,
    "map_columns_roundtrip": _ORACLE_MAP,
    "basket_brand_pairs": _ORACLE_BASKET,
    "graph_triangle_count": _ORACLE_TRIANGLES,
    "graph_adamic_adar": _ORACLE_ADAMIC_ADAR,
}
