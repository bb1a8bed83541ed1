"""TPC-H-style analytical queries over the driver's synthetic star schema.

Classic public TPC-H shapes (TPC-H spec v3; the shapes, constants and join
graphs are public knowledge) adapted to the driver tables' columns.  They
extend the reference's 3-model surface with multi-way joins, filtered and
HAVING aggregation, semi-joins, and deterministic top-k.

Money parity discipline (functions/numeric.py): every aggregated money term
is scaled to exact int64 units BEFORE summing (order-independent, so Spark's
partial/final shuffle aggregation and DuckDB's sequential sum are
bit-identical), divided back to doubles once, then rounded with the shared
floor-trick.  Top-k ORDER BY sorts on those exact values with an explicit
key tiebreak, so LIMIT selects the same set in both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import round2, scaled_long, sql_round2, sql_scaled_long
from ..sources.parquet import load_table
from .catalog import query


def _revenue_cents(ext: str = "l_extendedprice", disc: str = "l_discount") -> F.Column:
    """extprice*(1-discount) as exact integer 1/10000-units."""
    return scaled_long(F.col(ext)) * scaled_long(F.lit(1) - F.col(disc))


def _sql_revenue_cents(ext: str = "l_extendedprice", disc: str = "l_discount") -> str:
    return f"{sql_scaled_long(ext)} * {sql_scaled_long(f'1 - {disc}')}"


TPCH_Q1_ORACLE = f"""
        SELECT l_returnflag AS return_flag,
               l_linestatus AS line_status,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               SUM({sql_scaled_long('l_extendedprice')}) / 100.0 AS sum_base_price,
               SUM({_sql_revenue_cents()}) / 10000.0 AS sum_disc_price,
               SUM({_sql_revenue_cents()} * {sql_scaled_long('1 + l_tax')}) / 1000000.0 AS sum_charge,
               {sql_round2("(SUM(CAST(l_quantity AS BIGINT)) * 1.0) / COUNT(*)")} AS avg_qty,
               {sql_round2("(SUM(" + sql_scaled_long('l_extendedprice') + ") / 100.0) / COUNT(*)")} AS avg_price,
               {sql_round2("(SUM(" + sql_scaled_long('l_discount') + ") / 100.0) / COUNT(*)")} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY 1, 2
"""


def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: grouped pricing summary with derived-term sums — the
    heaviest pure-aggregation shape; Spark runs it as partial+final
    HashAggregate with no join, one shuffle on the 6-value group key.

    Demoted from the 50-row driver catalog in r14 (slot funds
    corpus_quality_classifier, VERDICT r13 item 5 — cube_pricing_levels
    subsumes q1's aggregate shape at the cube's finest grouping set):
    its A1/A4/A5/A6/P5 operator tags stay gated via agg_monthly_orders,
    grain_check_fanout, and fct_order_details, and the DuckDB
    differential continues in tests/test_catalog_parity.py::
    test_demoted_queries_still_match_oracle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02")
    qty = F.col("l_quantity").cast("long")
    return (
        li.groupBy(F.col("l_returnflag").alias("return_flag"),
                   F.col("l_linestatus").alias("line_status"))
        .agg(
            F.sum(qty).alias("sum_qty"),
            (F.sum(scaled_long(F.col("l_extendedprice"))) / 100.0).alias("sum_base_price"),
            (F.sum(_revenue_cents()) / 10000.0).alias("sum_disc_price"),
            (F.sum(_revenue_cents() * scaled_long(F.lit(1) + F.col("l_tax"))) / 1000000.0).alias("sum_charge"),
            round2(F.sum(qty) * 1.0 / F.count(F.lit(1))).alias("avg_qty"),
            round2((F.sum(scaled_long(F.col("l_extendedprice"))) / 100.0) / F.count(F.lit(1))).alias("avg_price"),
            round2((F.sum(scaled_long(F.col("l_discount"))) / 100.0) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
        SELECT l.l_orderkey AS order_key,
               SUM({_sql_revenue_cents('l.l_extendedprice', 'l.l_discount')}) / 10000.0 AS revenue,
               CAST(o.o_orderdate AS DATE) AS order_date,
               o.o_orderpriority AS order_priority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
          AND l.l_shipdate > TIMESTAMP '1997-01-01'
        GROUP BY 1, 3, 4
        ORDER BY revenue DESC, order_key
        LIMIT 10
    """,
    tags=("J1", "A1", "A4", "O1", "P5"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: 3-way join + grouped revenue + deterministic top-10,
    served from the orderkey-BUCKETED orders/lineitem marts (the r9
    layout decision, VERDICT r8 item 2: dbt users materialize marts with
    a layout precisely so the hot join path doesn't re-shuffle; the
    DuckDB oracle computes the identical result from the raw tables —
    layout must never change answers).  The filtered customer dim
    broadcasts, the orderkey join reads co-located buckets with NO
    exchange, and the group-by keys include the bucket key so the
    aggregate is exchange-free too — the only movement left is the
    top-10 TakeOrdered."""
    from .reference_surface import bucketed_order_marts

    o, li = bucketed_order_marts(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    ob = o.filter(F.col("o_orderdate") < "1997-01-01")
    lb = li.filter(F.col("l_shipdate") > "1997-01-01")
    # merge hint PINS the co-located bucket join (r11, the q3 sf1 anomaly):
    # under a generous autoBroadcastJoinThreshold Catalyst broadcast the
    # FILTERED LINEITEM FACT side — a ~1.5M-row HashedRelation built inside
    # every execution (sf1: 1.65s -> 0.48s hinted; sf0.1: 0.43 -> 0.30).
    # At 100 TB a fact side never fits a broadcast anyway; the hint makes
    # the local plan the cluster plan.
    return (
        ob.join(F.broadcast(cust), cust.c_custkey == ob.o_custkey)
        .join(lb.hint("merge"), lb.l_orderkey == ob.o_orderkey)
        .groupBy(F.col("l_orderkey").alias("order_key"),
                 F.col("o_orderdate").cast("date").alias("order_date"),
                 F.col("o_orderpriority").alias("order_priority"))
        .agg((F.sum(_revenue_cents()) / 10000.0).alias("revenue"))
        .select("order_key", "revenue", "order_date", "order_priority")
        .orderBy(F.desc("revenue"), F.asc("order_key"))
        .limit(10)
    )


TPCH_Q4_ORACLE = """
        SELECT o.o_orderpriority AS order_priority,
               COUNT(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-07-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
          )
        GROUP BY 1
"""


def tpch_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS -> LEFT SEMI join (no fan-out, no dedup
    needed — the semi join short-circuits per order, and Spark pushes the
    correlated date condition into the join).

    Pytest-differential (TPCH_Q4_ORACLE above): displaced from the 50-row
    driver catalog by events_gapfill_ffill in r9 — its operator shape
    (semi join) stays gated via tpch_q21's double semi/anti; the oracle
    gate continues in tests/test_catalog_parity.py::
    test_demoted_queries_still_match_oracle."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01"))
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy(F.col("o_orderpriority").alias("order_priority"))
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


TPCH_Q5_ORACLE = f"""
        SELECT n.n_name AS nation_name,
               SUM({_sql_revenue_cents('l.l_extendedprice', 'l.l_discount')}) / 10000.0 AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1
"""


def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join with tiny-dim broadcasts.  nation/region are
    broadcast explicitly; the region filter then prunes customers BEFORE the
    big orders/lineitem joins — the join order Catalyst's CBO would pick,
    expressed declaratively.

    Pytest-differential (TPCH_Q5_ORACLE above): displaced from the 50-row
    driver catalog by dedup_passage_exact in r9 — its operator shapes
    (multi-way join, broadcast dims, filtered fact agg) stay gated via
    tpch_q9 / tpch_q21; per TPCH_TAIL.json it is stage-constants-bound at
    local sf0.1, so the bench set loses no signal.  The oracle gate
    continues in tests/test_catalog_parity.py::
    test_demoted_queries_still_match_oracle."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    return (
        cust
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(supp,
              (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg((F.sum(_revenue_cents()) / 10000.0).alias("revenue"))
    )


TPCH_Q6_ORACLE = f"""
        SELECT SUM({sql_scaled_long('l_extendedprice')} * {sql_scaled_long('l_discount')}) / 10000.0
                   AS revenue,
               COUNT(*) AS qualifying_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.02 AND l_discount <= 0.04
          AND l_quantity < 24
"""


def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + global aggregate — the predicate-pushdown
    showcase.  All four predicates reach the parquet scan as PushedFilters;
    only 3 columns are read (check .explain ReadSchema).

    Demoted from the 50-row driver catalog in r13 (slot funds
    corpus_bm25_topk, VERDICT r12 item 7 — q6 and q1 overlap as
    pricing-filter shapes): its P5/A4/A6 operator tags stay gated via
    fct_order_details and grain_check_fanout (tpch_q1 itself demoted
    r14), the pushdown showcase stays
    plan-asserted in tests/test_plan_quality.py, and the DuckDB
    differential continues in tests/test_catalog_parity.py::
    test_demoted_queries_still_match_oracle.  It also remains the
    stable interleaving control row in the receipt tools."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(scaled_long(F.col("l_extendedprice")) * scaled_long(F.col("l_discount")))
             / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("qualifying_lines"),
        )
    )


TPCH_Q10_ORACLE = f"""
        SELECT c.c_custkey AS customer_key,
               c.c_name AS customer_name,
               SUM({_sql_revenue_cents('l.l_extendedprice', 'l.l_discount')}) / 10000.0 AS revenue,
               c.c_acctbal AS acct_balance,
               n.n_name AS nation_name
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-10-01'
          AND o.o_orderdate < TIMESTAMP '1996-01-01'
          AND l.l_returnflag = 'R'
        GROUP BY 1, 2, 4, 5
        ORDER BY revenue DESC, customer_key
        LIMIT 20
"""


def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue ranking, deterministic top-20.

    Pytest-differential (TPCH_Q10_ORACLE above): displaced from the 50-row
    driver catalog by events_pivot_daily in r9 — its operator shapes
    (multi-join + agg + deterministic top-k) stay gated via tpch_q3 /
    tpch_q18; the oracle gate continues in tests/test_catalog_parity.py::
    test_demoted_queries_still_match_oracle."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-10-01") & (F.col("o_orderdate") < "1996-01-01"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("c_custkey").alias("customer_key"),
                 F.col("c_name").alias("customer_name"),
                 F.col("c_acctbal").alias("acct_balance"),
                 F.col("n_name").alias("nation_name"))
        .agg((F.sum(_revenue_cents()) / 10000.0).alias("revenue"))
        .select("customer_key", "customer_name", "revenue", "acct_balance", "nation_name")
        .orderBy(F.desc("revenue"), F.asc("customer_key"))
        .limit(20)
    )


@query(
    "tpch_q18_large_volume_customer",
    oracle="""
        WITH big AS (
            SELECT l_orderkey
            FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS BIGINT)) > 300
        )
        SELECT c.c_name AS customer_name,
               c.c_custkey AS customer_key,
               o.o_orderkey AS order_key,
               CAST(o.o_orderdate AS DATE) AS order_date,
               o.o_totalprice AS total_price,
               -- outer CAST: DuckDB SUM(BIGINT) widens to HUGEINT, which the
               -- driver's type-sensitive value hash distinguishes from int64
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
        GROUP BY 1, 2, 3, 4, 5
        ORDER BY total_price DESC, order_key
        LIMIT 100
    """,
    tags=("J-semi", "A1", "A4", "A8", "O1"),
)
def tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: HAVING-filtered aggregate reused as a semi-join filter,
    served from the orderkey-BUCKETED marts (r9 layout decision).  The
    per-order qty rollup is exchange-free over the bucketed lineitem
    (group key == bucket key); because the rollup already carries each
    qualifying order's total quantity, the classic lineitem rescan+rejoin
    is algebraically redundant — `big` broadcasts into orders and the
    customer dim joins the tiny qualifying set (aggregate-reuse is
    standard engine optimization; the oracle stays the naive rejoin SQL
    and results hash-match).  The semi-join operator shape this row used
    to carry stays gated by tpch_q21's left_semi + left_anti pair."""
    from .reference_surface import bucketed_order_marts

    o, li = bucketed_order_marts(spark, sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    cust = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(cust, cust.c_custkey == o.o_custkey)
        .select(F.col("c_name").alias("customer_name"),
                F.col("c_custkey").alias("customer_key"),
                F.col("o_orderkey").alias("order_key"),
                F.col("o_orderdate").cast("date").alias("order_date"),
                F.col("o_totalprice").alias("total_price"),
                F.col("total_qty"))
        .orderBy(F.desc("total_price"), F.asc("order_key"))
        .limit(100)
    )
