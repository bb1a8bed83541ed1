"""TPC-H continuation: the spec shapes not covered in tpch.py, adapted to
the driver tables' columns (no partsupp / commitdate / comment columns in
the synthetic schema — see TESTDATA.md; where the official query needs one,
the adaptation keeps the operator shape and swaps the predicate to an
available column).

New operator coverage vs tpch.py: anti joins (NOT EXISTS), correlated
scalar subqueries, CASE-conditional aggregation, LIKE filters, scalar
subquery thresholds, substring grouping, multi-nation self-pair joins,
ratio-of-sums metrics.

Money/parity discipline identical to tpch.py: integer-scaled sums
(functions/numeric.py) so partial/final shuffle aggregation is
order-independent and bit-identical to DuckDB's sequential sum.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import round2, scaled_long, sql_round2, sql_scaled_long
from ..sources.parquet import (build_once, load_table, mart_cache_dir,
                               path_digest)
from .catalog import query
from .tpch import _revenue_cents, _sql_revenue_cents


TPCH_Q7_ORACLE = f"""
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INT) AS l_year,
               SUM({_sql_revenue_cents('l.l_extendedprice', 'l.l_discount')}) / 10000.0 AS revenue
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1, 2, 3
"""


def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral shipping volume between two nations by year.
    Both nation dims broadcast; the OR-of-pairs predicate lands after the
    joins (it references both sides), but nation is 25 rows so the
    broadcast-hash joins are free and lineitem is filtered on shipdate at
    the scan.

    Pytest-differential (TPCH_Q7_ORACLE above): displaced from the 50-row
    driver catalog by text_heavy_hitters in r9 — its operator shapes
    (multi-fact join with broadcast dims, post-join OR predicate, yearly
    GROUP BY sum) stay gated via tpch_q5 / tpch_q8 / tpch_q9; the oracle
    gate continues in tests/test_catalog_parity.py::
    test_demoted_queries_still_match_oracle."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01"))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg((F.sum(_revenue_cents()) / 10000.0).alias("revenue"))
    )


@query(
    "tpch_q8_market_share",
    oracle=f"""
        WITH all_nations AS (
            SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
                   {_sql_revenue_cents('l.l_extendedprice', 'l.l_discount')} AS volume_units,
                   n2.n_name AS supp_nation
            FROM part p
            JOIN lineitem l ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
            JOIN region r   ON n1.n_regionkey = r.r_regionkey
            JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1998-01-01'
              AND p.p_type = 'PROMO'
        )
        SELECT o_year,
               {sql_round2("(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume_units ELSE 0 END)"
                           " * 100.0) / SUM(volume_units)")} AS mkt_share_pct
        FROM all_nations
        GROUP BY o_year
    """,
    tags=("J1", "A1", "A4", "F5"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — ratio of conditional sum to total
    sum per year.  Both sums are exact integer units, so the ratio is a
    single deterministic double division; 8-way join with all dims
    broadcast, facts joined on their natural keys."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01"))
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = _revenue_cents()
    nat5 = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0))
    # part and supplier GROW with sf (a p_type filter is not selective at
    # 100x) — no broadcast hint; AQE converts to broadcast at runtime when
    # the filtered side is actually small.  Only fixed-size nation/region
    # keep explicit hints.
    return (
        p.join(li, p.p_partkey == li.l_partkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(round2(F.sum(nat5) * 100.0 / F.sum(vol)).alias("mkt_share_pct"))
    )


@query(
    "tpch_q9_product_profit",
    oracle=f"""
        SELECT n.n_name AS nation_name,
               CAST(year(o.o_orderdate) AS INT) AS o_year,
               SUM({_sql_revenue_cents('l.l_extendedprice', 'l.l_discount')}
                   - {sql_scaled_long('p.p_retailprice')} * CAST(l.l_quantity AS BIGINT) * 100)
                   / 10000.0 AS profit
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%widget%'
        GROUP BY 1, 2
    """,
    tags=("J1", "A1", "A4", "F4", "LIKE"),
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier-nation and year over a
    LIKE-selected part family.  The schema has no ps_supplycost, so cost
    is the part's retail price x quantity — same join graph and
    aggregation shape.  All in exact integer 1/10000-units before one
    final division.

    Served from the orderkey-BUCKETED marts since r12 (VERDICT r11 item
    3): the sf1 plan audit found q9's second going to a PER-EXECUTION
    BroadcastExchange of the UNFILTERED ORDERS FACT — a 1.5M-row
    HashedRelation rebuilt every run (the executed plan had exactly one
    Exchange, so no shuffle to remove; same pathology as r11's q3).  The
    merge hint pins the exchange-free co-located bucket join instead:
    sf1 1.04 -> 0.66s min-of-7 interleaved (Q8Q9_RECEIPT.json), and at
    100 TB a fact side never fits a broadcast, so the local plan is the
    cluster plan.  q8 measured the same rewrite and KEPT its original
    plan — its part-filter-first join order prunes lineitem 6x before
    the orders join, and both mart variants tied or lost (receipt)."""
    return tpch_q9_mart(spark, sf_dir)


def tpch_q9_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q9 served from the orderkey-BUCKETED marts (r12, VERDICT r11 item
    3): the sf1 plan audit showed q9 broadcasting the UNFILTERED ORDERS
    fact — a 1.5M-row HashedRelation rebuilt every execution
    (Q8Q9_RECEIPT.json).  The merge hint pins the exchange-free bucket
    join instead; part/supplier as in tpch_q8_market_share."""
    from .reference_surface import bucketed_order_marts

    o_mart, li = bucketed_order_marts(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    profit_units = _revenue_cents() - (
        scaled_long(F.col("p_retailprice"))
        * F.col("l_quantity").cast("long") * 100)
    return (
        o_mart.join(li.hint("merge"),
                    o_mart.o_orderkey == li.l_orderkey)
        .join(p, F.col("l_partkey") == p.p_partkey)
        .join(s, s.s_suppkey == F.col("l_suppkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"),
                 F.year("o_orderdate").alias("o_year"))
        .agg((F.sum(profit_units) / 10000.0).alias("profit"))
    )


# q12's oracle, kept for the pytest differential below the catalog: the
# driver catalog is capped at 50 rows, and q12's operators (CASE-conditional
# aggregation, equi+range join conjunct) stay covered by q14/q8 (conditional
# aggs) and the as-of/range-join suite; its slot was given to the
# corpus-decontamination surface (queries/text_filters.py).
# tests/test_catalog_parity.py still runs q12 under the identical oracle
# gate every session.
TPCH_Q12_ORACLE = """
    SELECT l.l_returnflag AS return_flag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    GROUP BY 1
"""


def tpch_q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: CASE-conditional counts split by priority class
    over late-shipped lines (no l_shipmode/commitdate in the schema:
    return_flag stands in for the mode grouping, shipdate-vs-orderdate+30d
    for the late predicate — same conditional-aggregation operator).
    Pytest-differential (see TPCH_Q12_ORACLE above): displaced from the
    50-row driver catalog by corpus_decontamination."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey)
               & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")))
        .groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_count"),
             F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority_count"))
    )


TPCH_Q13_ORACLE = """
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
            SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
            FROM customer c
            LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
"""


def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: orders-per-customer distribution via filtered LEFT JOIN
    and two stacked aggregations (count of non-null keys preserves
    zero-order customers).  Second groupBy is on an integer — trivially
    skew-safe.

    Pytest-differential (TPCH_Q13_ORACLE above): displaced from the 50-row
    driver catalog by text_lm_quality in r9 — its operator shapes (outer
    join with join-side predicate, stacked aggregation) stay gated via
    agg_monthly_combined / tpch_q16; the oracle gate continues in
    tests/test_catalog_parity.py::test_demoted_queries_still_match_oracle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    # Aggregate-before-join: collapsing orders to (custkey, n) BEFORE the
    # left join shrinks the join's big side ~10x (orders -> customers) and
    # Catalyst won't push an aggregation below an outer join itself —
    # 1.9x at sf1 (1.06s -> 0.56s).  count(o_orderkey) over the left join
    # == coalesce(n, 0): o_orderkey is never NULL in a matched row.
    oc = o.groupBy(F.col("o_custkey")).agg(F.count(F.lit(1)).alias("_n"))
    per_cust = (
        c.join(oc, c.c_custkey == oc.o_custkey, "left")
        .select(F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


TPCH_Q14_ORACLE = f"""
        SELECT {sql_round2(
            "(SUM(CASE WHEN p.p_type = 'PROMO' THEN "
            + _sql_revenue_cents('l.l_extendedprice', 'l.l_discount')
            + " ELSE 0 END) * 100.0) / SUM("
            + _sql_revenue_cents('l.l_extendedprice', 'l.l_discount') + ")")} AS promo_revenue_pct
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
          AND l.l_shipdate < TIMESTAMP '1996-10-01'
"""


def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one month — global CASE-ratio
    aggregate, part dim broadcast, single deterministic division of exact
    integer sums.

    Pytest-differential (TPCH_Q14_ORACLE above): displaced from the 50-row
    driver catalog by cube_pricing_levels in r8 — its operator shapes
    (CASE-ratio aggregate, broadcast dim join, no-GROUP-BY agg) stay gated
    via tpch_q8 / tpch_q6; the oracle gate continues in
    tests/test_catalog_parity.py::test_demoted_queries_still_match_oracle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01"))
    p = load_table(spark, sf_dir, "part")
    vol = _revenue_cents()
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(round2(F.sum(promo) * 100.0 / F.sum(vol)).alias("promo_revenue_pct"))
    )


@query(
    "cube_pricing_levels",
    oracle=f"""
        SELECT l_returnflag AS return_flag,
               l_linestatus AS line_status,
               CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS lvl,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               SUM({_sql_revenue_cents()}) / 10000.0 AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("A-cube", "A1", "A4", "A6", "P5"),
)
def cube_pricing_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation (GROUP BY CUBE): the pricing summary at
    every granularity — (flag, status), per-flag, per-status, and the
    grand total.  Spark plans CUBE as one Expand: every input row
    replicated once per grouping set (4x here) BEFORE the partial
    HashAggregate, so the map side processes 4x the scan output.  When
    the grouping keys are LOW-CARDINALITY the finest grain subsumes every
    coarser set and SUM/COUNT are algebraic, so a grain pre-agg is exact:
    groupBy(flag, status) collapses each map partition to <=|grain| rows
    (6 here — pinned in the receipt) before one tiny shuffle, and the
    cube()'s Expand then multiplies 6 rows instead of the fact
    (CUBE_RECEIPT.json, r12: sf1 0.618 -> 0.294s min-of-7 interleaved;
    the per-level-UNION variant measured 0.365s and lost — 4 jobs over
    the grain cost more than one 6-row Expand).  grouping_id() over the
    re-agg keeps DuckDB's GROUPING() bitmask bit-for-bit (last grouping
    column = LSB), and natural NULL keys survive as grain rows, so
    subtotal disambiguation is unchanged.  100 TB note: this rewrite is
    right ONLY while |grain| << |fact| — for high-cardinality grouping
    keys the grain approaches the fact and the single-pass Expand plan
    (plain cube() over the fact) wins.  ROLLUP and explicit
    GROUPING SETS keep their own Expand-plan DuckDB differentials in
    tests/test_sql_surface.py."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02")
    qty = F.col("l_quantity").cast("long")
    grain = (
        li.groupBy(F.col("l_returnflag").alias("return_flag"),
                   F.col("l_linestatus").alias("line_status"))
        .agg(F.sum(qty).alias("q"),
             F.sum(_revenue_cents()).alias("r"),
             F.count(F.lit(1)).alias("n"))
    )
    return (
        grain.cube("return_flag", "line_status")
        .agg(F.grouping_id().cast("int").alias("lvl"),
             F.sum("q").alias("sum_qty"),
             (F.sum("r") / 10000.0).alias("revenue"),
             F.sum("n").alias("n_lines"))
    )


_Q15_REVENUE = f"""
        SELECT l_suppkey AS supplier_no,
               SUM({_sql_revenue_cents()}) AS total_units
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
"""


TPCH_Q15_ORACLE = f"""
        WITH revenue AS ({_Q15_REVENUE})
        SELECT s.s_suppkey AS supplier_key,
               s.s_name AS supplier_name,
               r.total_units / 10000.0 AS total_revenue
        FROM supplier s
        JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_units = (SELECT MAX(total_units) FROM revenue)
"""


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: quarterly revenue view + scalar-subquery MAX filter.
    The revenue aggregate is computed once and self-referenced: Spark
    evaluates the MAX as a scalar subquery over the reused plan (exact
    integer units, so max-equality is safe — no double ties).

    Pytest-differential (TPCH_Q15_ORACLE above): displaced from the 50-row
    driver catalog by events_range_join in r9 — its operator shapes
    (scalar-subquery threshold, broadcast single-row join, grouped sum)
    stay gated via tpch_q2 / tpch_q11 / grain_check_fanout; the oracle
    gate continues in tests/test_catalog_parity.py::
    test_demoted_queries_still_match_oracle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01"))
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_revenue_cents()).alias("total_units"))
    )
    max_units = revenue.agg(F.max("total_units").alias("m"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_units), F.col("total_units") == F.col("m"))
        .select(F.col("s_suppkey").alias("supplier_key"),
                F.col("s_name").alias("supplier_name"),
                (F.col("total_units") / 10000.0).alias("total_revenue"))
    )


TPCH_Q16_ORACLE = """
        SELECT p.p_brand AS brand,
               p.p_type AS type,
               p.p_size AS size,
               CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
          AND l.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY 1, 2, 3
"""


def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part group with a
    NOT-IN supplier exclusion (negative balance stands in for the
    complaints LIKE — same anti-join + COUNT DISTINCT operators; lineitem
    is the part-supplier relation since the schema has no partsupp).

    Pytest-differential (TPCH_Q16_ORACLE above): displaced from the 50-row
    driver catalog by sim_topk_pq_residual in r10 (VERDICT r8 item 7) —
    its operator shapes (anti join via NOT IN, exact COUNT DISTINCT,
    broadcast dim) stay gated via tpch_q21 (anti), agg_monthly_orders
    (count distinct), and tpch_q16's own oracle gate continues in
    tests/test_catalog_parity.py::test_demoted_queries_still_match_oracle."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    # Join ORDER is load-bearing: the selective part join (broadcast, ~15%
    # of parts survive the brand/size filter) runs FIRST so the anti join
    # only scans survivors.  Catalyst's CBO has no stats here and will not
    # reorder across an anti join on its own — written the cheap way it is
    # 2x faster at sf1 (0.53s vs 0.96s) and the gap widens with volume.
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")),
                p.p_partkey == li.l_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy(F.col("p_brand").alias("brand"),
                 F.col("p_type").alias("type"),
                 F.col("p_size").alias("size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


TPCH_Q17_ORACLE = """
        WITH part_avg AS (
            SELECT l_partkey,
                   SUM(CAST(l_quantity AS BIGINT)) * 1.0 / COUNT(*) AS avg_qty
            FROM lineitem
            GROUP BY l_partkey
        )
        SELECT SUM(CAST(ROUND(l.l_extendedprice * 100.0, 0) AS BIGINT)) / 100.0 / 7.0
                   AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN part_avg a ON a.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#2'
          AND l.l_quantity < 0.2 * a.avg_qty
"""


def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: small-quantity order revenue — the correlated AVG
    subquery decorrelated into a per-part aggregate join (exactly what
    Catalyst's RewriteCorrelatedScalarSubquery does to the SQL form).
    avg_qty is computed as exact-int sum / count so the 0.2x threshold is
    bit-identical across engines.

    Pytest-differential (TPCH_Q17_ORACLE above): displaced from the 50-row
    driver catalog by sim_topk_pq in r8 — its operator shapes (scalar /
    correlated-scalar subquery, per-key aggregate join, broadcast dim) stay
    gated via tpch_q2 / tpch_q11 / tpch_q15 / grain_check_fanout; the oracle
    gate continues in tests/test_catalog_parity.py::
    test_demoted_queries_still_match_oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    part_avg = (
        li.groupBy(F.col("l_partkey").alias("pa_partkey"))
        .agg((F.sum(F.col("l_quantity").cast("long")) * 1.0
              / F.count(F.lit(1))).alias("avg_qty"))
    )
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .join(part_avg, F.col("pa_partkey") == li.l_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((F.sum(scaled_long(F.col("l_extendedprice"))) / 100.0 / 7.0)
             .alias("avg_yearly"))
    )


# q19's oracle, kept for the pytest differential below the catalog: the
# driver catalog is capped at 50 rows and q19 is a third CASE-filter variant
# of q6/q14's shape, so its slot was given to the corpus-hygiene surface
# (text_repetition — queries/text_filters.py); tests/test_catalog_parity.py
# still runs q19 under the identical oracle gate every session.
TPCH_Q19_ORACLE = f"""
    SELECT SUM({_sql_revenue_cents('l.l_extendedprice', 'l.l_discount')}) / 10000.0 AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
"""


def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunction of brand/size/quantity triples — the
    OR-of-conjunctions predicate evaluated post-join (it mixes columns of
    both sides); part broadcast so no shuffle.  Pytest-differential (see
    TPCH_Q19_ORACLE above): displaced from the 50-row driver catalog by
    text_repetition."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10)
           & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & (q >= 20) & (q <= 30))
    )
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .filter(cond)
        .agg((F.sum(_revenue_cents()) / 10000.0).alias("revenue"))
    )


TPCH_Q20_ORACLE = """
    SELECT s.s_name AS supplier_name, n.n_name AS nation_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'SMALL'
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 50
    )
"""


def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers that moved >50 units of any SMALL part in
    1996 — nested IN collapsed to a HAVING-filtered aggregate + semi join
    (the schema has no partsupp, so availability is measured by shipped
    quantity).

    Pytest-differential (TPCH_Q20_ORACLE above): displaced from the 50-row
    driver catalog by mart_bucketed_revenue in r6 — its operator shapes
    (HAVING-filtered aggregate, semi join, broadcast dim) stay gated via
    tpch_q21 / tpch_q16 / tpch_q11; the oracle gate continues in
    tests/test_catalog_parity.py::test_demoted_queries_still_match_oracle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01"))
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    movers = (
        li.join(p, p.p_partkey == li.l_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(movers, s.s_suppkey == movers.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("s_name").alias("supplier_name"),
                F.col("n_name").alias("nation_name"))
    )


@query(
    "tpch_q21_waiting_suppliers",
    oracle="""
        WITH late AS (
            SELECT l_orderkey, l_suppkey
            FROM lineitem
            WHERE l_shipdate > TIMESTAMP '1997-06-01'
        )
        SELECT s.s_name AS supplier_name,
               CAST(COUNT(*) AS BIGINT) AS numwait
        FROM late l1
        JOIN orders o   ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
        JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        WHERE EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
        )
        AND NOT EXISTS (
            SELECT 1 FROM late l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        )
        GROUP BY 1
    """,
    tags=("J-semi", "J-anti", "A1"),
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole late supplier on multi-supplier finished
    orders — EXISTS -> left_semi, NOT EXISTS -> left_anti, both with the
    suppkey-inequality condition in the join (no commit/receipt dates in
    the schema: 'late' = shipped after a cutoff).

    Served from the orderkey-BUCKETED marts (r9 layout decision, VERDICT
    r8 item 2): all four orderkey joins (inner + semi + anti + the
    late/l2/l3 self-references) read co-located buckets with no exchange;
    only the small supplier join and the final name aggregate move data.
    The oracle computes the identical result from raw tables."""
    from .reference_surface import bucketed_order_marts

    ob, li = bucketed_order_marts(spark, sf_dir)
    late = li.filter(F.col("l_shipdate") > "1997-06-01").select(
        "l_orderkey", "l_suppkey")
    # merge hints pin all four orderkey joins to the co-located bucket
    # plan (r11, see tpch_q3 docstring): a generous broadcast threshold
    # otherwise builds fact-side HashedRelations inside every execution
    # (sf1: 2.09s -> 0.96s hinted; sf0.1: 0.35 -> 0.30)
    o = ob.filter(F.col("o_orderstatus") == "F").hint("merge")
    s = load_table(spark, sf_dir, "supplier")
    l1 = late.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").hint("merge").alias("l2")
    l3 = late.hint("merge").alias("l3")
    return (
        l1.join(o, F.col("l1.l_orderkey") == o.o_orderkey)
        .join(l2, (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
              & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")), "left_semi")
        .join(l3, (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
              & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")), "left_anti")
        # supplier scales with sf — AQE decides (see q8)
        .join(s, s.s_suppkey == F.col("l1.l_suppkey"))
        .groupBy(F.col("s_name").alias("supplier_name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
        WITH part_cost AS (
            SELECT l_partkey,
                   MIN({sql_scaled_long('l_extendedprice')}) AS min_cost_units
            FROM lineitem
            GROUP BY l_partkey
        )
        SELECT DISTINCT
               p.p_partkey AS part_key,
               p.p_name AS part_name,
               s.s_name AS supplier_name,
               n.n_name AS nation_name,
               pc.min_cost_units / 100.0 AS min_cost
        FROM part p
        JOIN part_cost pc ON pc.l_partkey = p.p_partkey
        JOIN lineitem l ON l.l_partkey = p.p_partkey
         AND {sql_scaled_long('l.l_extendedprice')} = pc.min_cost_units
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE p.p_size IN (5, 10)
        ORDER BY min_cost, part_key, supplier_name
        LIMIT 100
    """,
    tags=("J1", "A7", "O1", "P5"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the supplier(s) achieving the minimum cost per
    selected part, served from the PARTSUPP OFFER MART (r13,
    Q2_RECEIPT.json): the synthetic schema has no partsupp, so every
    part-supplier query used to recompute that relation from lineitem
    per execution.  partsupp_offer_mart materializes the
    (l_partkey, l_suppkey) offer grain once, bucketed AND sorted on
    l_partkey — so here the per-part MIN window needs no exchange and
    no sort (hash(l_partkey) co-locates each part's offers; the bucket
    sort order feeds WindowExec directly), ties survive via the window
    (all suppliers at the minimum), and no DISTINCT is needed because
    the mart's grain already is part x supplier.  The plan is: pruned
    mart scan -> window MIN -> broadcast dim joins -> top-100.
    Receipts: two-scan rejoin 0.503s -> raw single-pass 0.283s -> this
    (Q2_RECEIPT.json; both earlier plans are retired).  Exact integer
    units keep min-equality tie-safe; the oracle still computes from raw
    lineitem so layout can never change answers."""
    from pyspark.sql.window import Window

    p = load_table(spark, sf_dir, "part").filter(F.col("p_size").isin(5, 10))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    offers = partsupp_offer_mart(spark, sf_dir)
    # only ~4% of parts survive the size filter: broadcast-semi prune
    # the offer scan before the window
    offers = offers.join(F.broadcast(p.select("p_partkey")),
                         offers.l_partkey == F.col("p_partkey"),
                         "left_semi")
    w = Window.partitionBy("l_partkey")
    winners = (
        offers.withColumn("part_min_units",
                          F.min("min_cost_units").over(w))
        .filter(F.col("min_cost_units") == F.col("part_min_units"))
        .select("l_partkey", "l_suppkey", "part_min_units")
    )
    return (
        winners.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(s, s.s_suppkey == F.col("l_suppkey"))
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .select(F.col("p_partkey").alias("part_key"),
                F.col("p_name").alias("part_name"),
                F.col("s_name").alias("supplier_name"),
                F.col("n_name").alias("nation_name"),
                (F.col("part_min_units") / 100.0).alias("min_cost"))
        .orderBy(F.asc("min_cost"), F.asc("part_key"), F.asc("supplier_name"))
        .limit(100)
    )


@build_once
def partsupp_offer_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once PART-SUPPLIER OFFER mart — the reconstructed TPC-H
    partsupp (r13, VERDICT r12 item 1/2).  The synthetic schema drops
    partsupp (TESTDATA.md), so lineitem doubles as the part-supplier
    relation and Q2/Q11-class queries each paid a full fact scan + a
    partkey-family exchange per execution to rebuild it.  This mart
    collapses lineitem to (l_partkey, l_suppkey) offer grain ONCE
    through the real Runner bucket path:

      min_cost_units  MIN(scaled extendedprice)  — Q2's cost
      revenue_units   SUM(revenue cents)         — Q11's value

    both decomposable partials (long MIN/SUM are associative), so any
    per-part or per-supplier rollup over the mart is EXACT.  Bucketed
    and sorted on l_partkey: hash(l_partkey) satisfies the clustering
    required by groupBy(l_partkey[, ...]) and Window.partitionBy
    (l_partkey) — downstream rollups and windows run with ZERO
    exchange, and the bucket sort order feeds WindowExec without a
    sort.  The one shuffle is paid at build, amortized over every
    part-supplier query (dbt posture; built once per (session, sf_dir)
    by `build_once`).
    At 100 TB the offer grain is the natural partsupp-sized summary
    (|parts| x ~avg suppliers-per-part), far under fact size."""
    from ..core.model import ModelDef, ModelRegistry
    from ..core.runner import Runner
    from ..session import mart_buckets

    digest = path_digest(sf_dir)
    name = f"mart_partsupp_offers_{digest}"
    reg = ModelRegistry()
    reg.register(ModelDef(
        name=name, deps=("lineitem",), materialized="table",
        fn=lambda refs: (
            refs["lineitem"]
            .groupBy("l_partkey", "l_suppkey")
            .agg(F.min(scaled_long(F.col("l_extendedprice")))
                 .alias("min_cost_units"),
                 F.sum(_revenue_cents()).alias("revenue_units"))),
        bucket_by=("l_partkey",), n_buckets=mart_buckets()))
    wh = mart_cache_dir(sf_dir, "partsupp_offers")
    out = Runner(spark, reg, warehouse_dir=wh).run({
        "lineitem": load_table(spark, sf_dir, "lineitem")})
    return out[name]


@query(
    "tpch_q11_important_parts",
    oracle=f"""
        WITH pr AS (
            SELECT l_partkey,
                   SUM({_sql_revenue_cents()}) AS units
            FROM lineitem
            GROUP BY l_partkey
        )
        SELECT l_partkey AS part_key, units / 10000.0 AS part_value
        FROM pr
        WHERE units > (SELECT SUM(units) * 0.0005 FROM pr)
    """,
    tags=("A4", "A7", "A8"),
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups whose value exceeds a fraction of the GLOBAL
    total — per-part revenue filtered against a scalar subquery over the
    same aggregate, served from the PARTSUPP OFFER MART (r13,
    Q11_HOURLY_RECEIPT.json: the fact scan + partkey exchange were 0.33s
    of the 0.42s total at sf1).  revenue_units in the mart is the exact
    per-(part,supplier) cents partial, so the per-part rollup here —
    exchange-free over the l_partkey-bucketed mart — reproduces the raw
    SUM bit-identically (long addition is associative).  The threshold
    side reuses the same aggregate (ReusedExchange); exact integer units
    on both sides of the comparison."""
    offers = partsupp_offer_mart(spark, sf_dir)
    pr = (
        offers.groupBy(F.col("l_partkey").alias("part_key"))
        .agg(F.sum("revenue_units").alias("units"))
    )
    threshold = pr.agg((F.sum("units") * 0.0005).alias("thr"))
    return (
        pr.join(F.broadcast(threshold), F.col("units") > F.col("thr"))
        .select("part_key", (F.col("units") / 10000.0).alias("part_value"))
    )


@query(
    "cohort_setops",
    oracle="""
        WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
                     WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                       AND o_orderdate < TIMESTAMP '1996-01-01'),
             y96 AS (SELECT DISTINCT o_custkey FROM orders
                     WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                       AND o_orderdate < TIMESTAMP '1997-01-01')
        SELECT 'retained' AS cohort,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
        UNION ALL
        SELECT 'churned', CAST(COUNT(*) AS BIGINT)
        FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
        UNION ALL
        SELECT 'new', CAST(COUNT(*) AS BIGINT)
        FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y95)
    """,
    tags=("set-ops", "union", "intersect", "except"),
)
def cohort_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer retention cohorts — the INTERSECT / EXCEPT-both-ways /
    UNION ALL family (SURVEY.md §2.7) collapsed to its algebraic core.

    Plan history: the naive per-leg form shuffles orders SIX times; r5
    rewrote it to one membership-bitmask aggregation whose Exchange every
    set-op leg shared (ReuseExchange), leaving the legs as semi/anti
    joins.  This round (VERDICT r9 item 5) finishes the job: with the
    mask in hand the three set operations ARE mask values — INTERSECT is
    mask=3, the two EXCEPTs are mask=1 and mask=2 — so the legs reduce to
    three conditional sums in one global aggregate, unpivoted by
    ``stack`` into the cohort rows.  ONE fact-table shuffle
    (hashpartitioning on o_custkey) and a metadata-sized SinglePartition
    gather; no joins at all (plan-asserted in test_plan_quality.py).  At
    100 TB the only data motion is the customer-key aggregation every
    variant needs anyway."""
    o = load_table(spark, sf_dir, "orders")

    mask = (
        o.filter((F.col("o_orderdate") >= "1995-01-01")
                 & (F.col("o_orderdate") < "1997-01-01"))
        .groupBy("o_custkey")
        .agg((F.max(F.when(F.col("o_orderdate") < "1996-01-01", 1)
                    .otherwise(0))
              + F.max(F.when(F.col("o_orderdate") >= "1996-01-01", 2)
                      .otherwise(0))).alias("mask"))
    )
    counts = mask.agg(
        F.count(F.when(F.col("mask") == 3, 1)).alias("retained"),
        F.count(F.when(F.col("mask") == 1, 1)).alias("churned"),
        F.count(F.when(F.col("mask") == 2, 1)).alias("new"))
    return counts.select(F.expr(
        "stack(3, 'retained', retained, 'churned', churned, 'new', new) "
        "as (cohort, n_customers)"))


# Demoted from the 50-entry catalog in round 7: the anti join is gated by
# q21, the scalar-subquery threshold by q11/q15/q17, substring is row-local;
# the slot funds corpus_shard_census (the training-shard layout receipt).
# Differential coverage continues in tests/test_catalog_parity.py.
TPCH_Q22_ORACLE = f"""
        WITH pos_avg AS (
            SELECT SUM({sql_scaled_long('c_acctbal')}) * 1.0 / COUNT(*) AS avg_units
            FROM customer WHERE c_acctbal > 0
        )
        SELECT substr(c.c_name, 10, 2) AS cust_group,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               SUM({sql_scaled_long('c.c_acctbal')}) / 100.0 AS totacctbal
        FROM customer c
        WHERE {sql_scaled_long('c.c_acctbal')} > (SELECT avg_units FROM pos_avg)
          AND NOT EXISTS (
              SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
          )
        GROUP BY 1
    """


def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich-but-inactive customers grouped by a substring
    key (digits of c_name stand in for the phone country code).  The
    positive-balance average is a broadcast scalar; inactivity is a
    left_anti join on orders.  Balances compared in exact integer cents.

    Pytest-differential (TPCH_Q22_ORACLE above): displaced from the 50-row
    driver window in round 7 by corpus_shard_census."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    pos_avg = (
        c.filter(F.col("c_acctbal") > 0)
        .agg((F.sum(scaled_long(F.col("c_acctbal"))) * 1.0
              / F.count(F.lit(1))).alias("avg_units"))
    )
    return (
        c.join(F.broadcast(pos_avg),
               scaled_long(F.col("c_acctbal")) > F.col("avg_units"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 10, 2).alias("cust_group"))
        .agg(F.count(F.lit(1)).alias("numcust"),
             (F.sum(scaled_long(F.col("c_acctbal"))) / 100.0).alias("totacctbal"))
    )
